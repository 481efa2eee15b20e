"""tms_ingest: the reference's own job. A seeded daily CSV lake is
imported batch by batch into a versioned table through
``tms.pipeline.import_daily_versioned``; the monthly efficiency report
is read after each batch. Set-up loads the first batch into a base
table; every pass starts from a copy of it and imports the later
batches, which re-export overlapping days, so each timed import is a
guarded MERGE that both updates and inserts."""

from __future__ import annotations

import os
import shutil

import gen_tms
from harness import SETUP_REPS, Run, noop, table_hash

N_BATCHES = 3  # a first load in set-up, then two timed MERGEs (the first is latin-1)
REPORTS = 3  # report reads after each import: one read sample per import varies too much


class TmsIngest:
    def __init__(self, run: Run):
        self.run = run
        self.lake_root = os.path.join(run.work, "lake")
        self.tables = os.path.join(run.work, "tables")
        self.base_table = os.path.join(run.work, "base_table")
        self.lake: gen_tms.Lake | None = None
        self.stats: list[tuple[int, int]] = []  # (batch_rows reported, expected) of the last pass
        self.table = ""
        self.replay_ok = False

    def _generate(self) -> gen_tms.Lake:
        shutil.rmtree(self.lake_root, ignore_errors=True)
        return gen_tms.generate_lake(self.lake_root, self.run.seed, n_batches=N_BATCHES)

    def _import(self, batch, table_dir):
        from tms_etl_spark.tms.pipeline import import_daily_versioned

        return import_daily_versioned(self.run.spark, batch.root, table_dir, encoding=batch.encoding)

    def _report(self, table_dir) -> None:
        from tms_etl_spark.operators.versioned import read_version
        from tms_etl_spark.tms.queries import efficiency_by_loom_month

        noop(efficiency_by_loom_month(read_version(self.run.spark, table_dir)))

    def setup(self) -> None:
        self.lake = self.run.timed_setup("inputs", self._generate, reps=SETUP_REPS)
        self.run.timed_setup("warmup", self._warm_up)

    def _warm_up(self) -> None:
        """Load the first batch into the base table and read its report;
        then replay that batch on a copy, a MERGE that must leave the
        table unchanged."""
        from tms_etl_spark.operators.versioned import read_version

        first = self.lake.batches[0]
        self._import(first, self.base_table)
        self._report(self.base_table)
        t = os.path.join(self.run.work, "replay")
        shutil.copytree(self.base_table, t)
        self._import(first, t)
        spark = self.run.spark
        self.replay_ok = table_hash(read_version(spark, t)) == table_hash(read_version(spark, self.base_table))
        shutil.rmtree(t)

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)
        self.table = os.path.join(self.tables, f"pass-{i}")
        shutil.copytree(self.base_table, self.table)
        self.stats = []

    def run_pass(self, i: int) -> None:
        for b in self.lake.batches[1:]:
            st = self.run.op("write", "import", lambda: self._import(b, self.table), rows=b.csv_rows)
            self.stats.append((st.batch_rows if st else -1, b.expected_rows))
            for _ in range(REPORTS):
                self.run.op("read", "report", lambda: self._report(self.table))

    def verify(self) -> None:
        """Check the last pass against the generator's model."""
        from pyspark.sql import functions as F

        from tms_etl_spark.operators.versioned import read_version
        from tms_etl_spark.tms.queries import efficiency_by_loom_month

        run, lake = self.run, self.lake
        for got, want in self.stats:
            run.check(f"batch_rows {got} != {want}", got == want)
        df = read_version(run.spark, self.table)
        rows = df.select("DataTurno", "Tear", "Eficiencia").collect()
        got = {(r[0], r[1]): r[2] for r in rows}
        run.check(f"{len(got)} keys, expected {lake.expected_keys}", len(rows) == len(got) == lake.expected_keys)
        run.check("first-write-wins keys", all(got.get(k) == v for k, v in lake.fww_keys.items()))
        run.check("newest-file-wins keys", all(got.get(k) == v for k, v in lake.newest_keys.items()))
        run.check("final Eficiencia per key", got == lake.final, n_ops=len(self.stats))
        n = efficiency_by_loom_month(df).agg(F.sum("n_turnos")).first()[0]
        run.check(f"report covers {n} shifts", n == lake.expected_keys)
        run.check("replaying a batch changed the table", self.replay_ok)

    def table_dirs(self) -> list[str]:
        return [self.table]
