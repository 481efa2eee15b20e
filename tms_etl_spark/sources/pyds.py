"""Python Data Source (Spark 4 `pyspark.sql.datasource` API) for the
reference's collection-status logs — the modern front door to the S7
status-line surface:

    spark.dataSource.register(StatusLogDataSource)
    df = (spark.read.format("tms_status")
          .option("path", "/lake/collect_logs").load())

vs the helper-function adapters in `sources/adapters.py` (kept — they
serve the driver-less unit surface). The data source distributes the
PARSING: `partitions()` lists the log files (driver-side metadata
only), and each `read(partition)` parses one file on an executor —
10k log files become 10k parallel parse tasks instead of one driver
loop, which is the whole point at fleet scale.

Reference semantics preserved (tms_colector.py:209-219 status-marker
contract): `<loom> ---> <status>` lines, unknown lines skipped,
latin-1 fallback for the legacy encoding (`source.py:55` discipline).

The versioned-table sources (``tms_versioned`` writer and stream
reader, ``tms_versioned_cdf``) hold no manifest or listing code of
their own: their driver-side halves run in Python runners without a
SparkSession, and they list, read and commit manifests through
`operators/versioned.py` — `current_version`, `_read_json`,
`_snapshot` and `_commit_landed_dir` take the stdlib branch for a
local table, so the one protocol (commit-if-absent, ``committed_at``,
carried table properties, `ConcurrentWriteError` on a lost race)
needs no JVM. The stream readers plan from the manifest: a snapshot
or append delta is the manifest's live-file rule
(`_live_rel_files`, the same one the batch readers use), and the
files a rule has no manifest entry for (change sidecars, deletion
vectors, added dirs when costing a rate-limited trigger) come from
`sources/fs.py`'s `list_files`. Only the executor-side data reads
live here.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from tms_etl_spark.operators.versioned import (
    _cdf_step_kind,
    _commit_landed_dir,
    _footer_file_stats,
    _live_rel_files,
    _manifest_path,
    _nullable_type,
    _read_json,
    _rel_of,
    _snapshot,
    current_version,
)
from tms_etl_spark.sources.fs import list_files

_STATUS_RE = re.compile(r"^(?P<loom>.+?)\s*--->\s*(?P<status>.+)$")
_EXTS = (".log", ".txt")


@dataclass
class _FilePartition(InputPartition):
    path: str
    # CDF / deletion-vector extensions (defaults keep the plain
    # file-partition uses — status logs, append streams — unchanged):
    ctype: str | None = None  # constant _change_type; None = not CDF
    # or the sidecar file carries its own
    version: int = 0  # _commit_version for CDF partitions
    del_dirs: tuple = ()  # tombstone vector dirs (abs) covering this file
    del_keys: tuple = ()  # the vectors' key column names (physical)
    # (target_name, name_in_file) pairs for columns whose name in the
    # file differs from the declared stream schema — data files carry
    # PHYSICAL names (stable across renames) and CDF sidecars carry
    # write-time LOGICAL names, so a renamed column needs this map or
    # read() would null-fill it (r13 fix)
    renames: tuple = ()


def _list_log_files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    out = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            if f.lower().endswith(_EXTS):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def _read_text(path: str) -> str:
    raw = open(path, "rb").read()
    if raw.startswith(b"\xef\xbb\xbf"):
        raw = raw[3:]
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


class StatusLogReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("tms_status requires .option('path', ...)")
        self._files = _list_log_files(path)

    def partitions(self) -> list[InputPartition]:
        # one partition per file: listing is driver-side metadata,
        # parsing runs wherever the task lands
        return [_FilePartition(p) for p in self._files] or [
            _FilePartition("")
        ]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        for line in _read_text(partition.path).splitlines():
            m = _STATUS_RE.match(line.strip())
            if m:
                yield (
                    m.group("loom").strip(),
                    m.group("status").strip(),
                    partition.path,
                )


class StatusLogDataSource(DataSource):
    """`spark.read.format("tms_status")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "tms_status"

    def schema(self) -> str:
        return "loom string, status string, src_file string"

    def reader(self, schema) -> StatusLogReader:
        return StatusLogReader(self.options)

    def simpleStreamReader(self, schema):
        return StatusLogStreamReader(self.options)


class StatusLogStreamReader(SimpleDataSourceStreamReader):
    """Streaming form: tail the log directory as an append-only file
    stream. The offset is the count of files processed in sorted-name
    order (collector logs are timestamped, so names sort in arrival
    order); `readBetweenOffsets` replays any committed range
    deterministically from the same listing, which is what gives the
    source exactly-once semantics under micro-batch retries."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("tms_status requires .option('path', ...)")
        self._path = path

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def _rows(self, files: list[str]):
        for f in files:
            for line in _read_text(f).splitlines():
                m = _STATUS_RE.match(line.strip())
                if m:
                    yield (
                        m.group("loom").strip(),
                        m.group("status").strip(),
                        f,
                    )

    def read(self, start: dict):
        files = _list_log_files(self._path)
        new = files[start["n_files"]:]
        # materialize: the harness pickles the batch to the executors,
        # and generators don't pickle
        return list(self._rows(new)), {"n_files": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _list_log_files(self._path)
        return list(self._rows(files[start["n_files"]:end["n_files"]]))



class _VersionedWriteMessage(WriterCommitMessage):
    def __init__(self, rel_file: str | None, n_rows: int) -> None:
        self.rel_file = rel_file
        self.n_rows = n_rows


class VersionedTableWriter(DataSourceWriter):
    """Python Data Source WRITER committing into the engine's
    versioned-table format (`operators/versioned.py`):

        df.write.format("tms_versioned").option("path", DIR)
          .mode("append").save()

    Executor side: each partition streams its rows into ONE parquet
    file of a version-private pending dir via pyarrow — no JVM on the
    write path. Driver side: `commit()` runs only after every task
    succeeded and commits the pending dir as the next version through
    the versioned layer's one manifest protocol
    (`_commit_pending_pure_python`), so a half-failed write never
    becomes readable; `abort()` leaves only an unreferenced pending
    dir for `expire_versions`' grace-aware GC. Local/POSIX paths
    (tests, NFS) — object stores would swap in pyarrow.fs."""

    def __init__(self, schema, options: dict, overwrite: bool) -> None:
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError("tms_versioned requires .option('path', ...)")
        self._table = path.removeprefix("file:")
        self._schema = schema
        self._mode = "overwrite" if overwrite else "append"
        self._pending = f"data/pending-{uuid.uuid4().hex[:8]}"

    def write(self, rows) -> _VersionedWriteMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        batch = [r.asDict() for r in rows]
        if not batch:
            return _VersionedWriteMessage(None, 0)
        out_dir = os.path.join(self._table, self._pending)
        os.makedirs(out_dir, exist_ok=True)
        rel = f"part-{uuid.uuid4().hex[:12]}.parquet"
        table = pa.Table.from_pylist(
            batch, schema=to_arrow_schema(self._schema)
        )
        pq.write_table(table, os.path.join(out_dir, rel))
        return _VersionedWriteMessage(rel, len(batch))

    def commit(self, messages) -> None:
        n = sum(m.n_rows for m in messages if m is not None)
        if n == 0:
            return  # nothing landed; no version to commit
        _commit_pending_pure_python(
            self._table, self._pending, self._mode, self._schema
        )

    def abort(self, messages) -> None:
        # pending dir stays unreferenced; expire_versions GCs it
        # after the orphan grace window
        pass


class VersionedTableDataSource(DataSource):
    """`df.write.format("tms_versioned")` (VersionedTableWriter) and
    `spark.readStream.format("tms_versioned")`
    (VersionedTableStreamReader)."""

    @classmethod
    def name(cls) -> str:
        return "tms_versioned"

    def schema(self):
        """Table schema: the manifest's RECORDED schema when present
        (exact under schema evolution and hive partitioning — the
        partition column is path-encoded, absent from footers), else
        the latest version's first live file's footer."""
        import json as _json

        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StructType

        path = self.options.get("path")
        if not path:
            raise ValueError("tms_versioned requires .option('path', ...)")
        table = path.removeprefix("file:")
        v, man = _snapshot(None, table)
        if man.get("schema"):
            return StructType.fromJson(_json.loads(man["schema"]))
        live = [r for rels in _live_rel_files(None, table, man).values() for r in rels]
        if not live:
            raise ValueError(f"version {v} at {table} has no live files")
        return from_arrow_schema(
            pq.ParquetFile(os.path.join(table, live[0])).schema_arrow
        )

    def writer(self, schema, overwrite: bool) -> VersionedTableWriter:
        return VersionedTableWriter(schema, self.options, overwrite)

    def streamReader(self, schema) -> "VersionedTableStreamReader":
        return VersionedTableStreamReader(self.options, schema)


def _commit_pending_pure_python(
    table_dir: str, pending_rel: str, mode: str, schema
) -> int:
    """Commit the writer's pending dir as the next version. `commit()`
    runs in a driver-side Python runner with no SparkSession, so this
    takes the LOCAL branch of the versioned layer's one protocol: the
    head through `_snapshot`, the shared payload and the
    `_write_json_atomic` commit point through `_commit_landed_dir`
    (the manifest half of `commit_existing_dir`), zonemaps from the
    parquet footers (`_footer_file_stats`). ``schema`` is the batch's
    Spark schema, the one every pending file was written with.

    Refused, because this writer has no expression engine: a table
    with CHECK constraints (it cannot validate them) and an append
    whose batch lacks a carried partition column (it cannot derive
    generated columns — schema-applied reads would null-fill them)."""
    import pyarrow.parquet as pq

    cur, prev = _snapshot(None, table_dir, empty_ok=True)
    if prev is not None and prev.get("constraints"):
        raise ValueError(
            "table carries CHECK constraints "
            f"({sorted(prev['constraints'])}) — the pure-Python "
            "writer cannot validate them; commit through the JVM "
            "path (write_version)"
        )
    if mode == "append" and prev is not None:
        part_cols = set(prev.get("partition_by") or []) | set(
            prev.get("partition_exprs") or {}
        )
        missing = sorted(part_cols - set(schema.fieldNames()))
        if missing:
            raise ValueError(
                f"partition column(s) {missing} absent from the batch: "
                "the pure-Python writer cannot derive generated "
                "partition columns — materialize them in the batch "
                "before writing"
            )

    def _stats(rec_schema) -> dict:
        stats = _footer_file_stats(table_dir, pending_rel, rec_schema)
        if stats is not None:
            return stats
        # footers cannot prove the zonemaps (nested or oversized
        # values): record row counts only, so metadata COUNT(*) stays
        # exact and reads stay correct, just unpruned
        files = list_files(None, f"{table_dir}/{pending_rel}", "*.parquet")
        return {
            _rel_of(fi.path, pending_rel): {
                "__rows": pq.ParquetFile(
                    fi.path.removeprefix("file:")
                ).metadata.num_rows
            }
            for fi in sorted(files, key=lambda fi: fi.path)
        }

    return _commit_landed_dir(
        None,
        table_dir,
        pending_rel,
        mode,
        cur,
        prev,
        _nullable_type(schema),
        _stats,
    )


def _parquet_files(d: str) -> list[str]:
    """Sorted OS paths of every parquet file below local dir ``d``,
    dead or alive — one `list_files` listing."""
    return sorted(
        fi.path.removeprefix("file:")
        for fi in list_files(None, d, "*.parquet")
    )


def _tombstones_by_dir(table_dir: str, man: dict) -> dict:
    """Per covered data dir, the deletion-vector dirs (abs) and their
    key columns — what a partition descriptor ships so `read` can
    apply tombstones EXECUTOR-SIDE (mixed key sets are refused at
    write time, so every entry shares one key tuple)."""
    out: dict[str, list] = {}
    for de in man.get("deletes", []):
        keys = tuple(de.get("keys") or [de["key"]])
        vdir = os.path.join(table_dir, de["dir"])
        for d in de.get("covers", []):
            out.setdefault(d, []).append((vdir, keys))
    return out


class VersionedTableStreamReader(DataSourceStreamReader):
    """Streaming SOURCE over a versioned table — the "table as a
    stream" half of the lakehouse contract (the sink half is
    `stream_write_versioned`):

        spark.readStream.format("tms_versioned")
             .option("path", DIR).load()

    The OFFSET is the committed version number: `latestOffset` reads
    one directory listing, `partitions(start, end)` diffs the two
    manifests' live files (`_live_rel_files`; the
    `read_version_changes` append-chain rule — the delta is exactly
    the files new in `end`, zero data comparison) and emits ONE
    partition per new file, and
    `read(partition)` streams that file as Arrow record batches ON
    THE EXECUTOR — the driver never touches data, so a micro-batch
    over a 100 TB table costs only the new files. Offset-range replay
    is deterministic (manifests are immutable), giving exactly-once
    under micro-batch retries.

    Refusals (fail loud, never silently wrong): history rewritten
    between the offsets (overwrite/rollback/compaction changed the
    dir set non-monotonically) or row-level deletes / MERGEs in the
    range — removed rows have no file-level delta. Streams should
    tail append-only tables; run maintenance in windows between
    streaming jobs (the same caveat Delta's streaming source
    documents for non-append commits)."""

    def __init__(self, options: dict, schema=None) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("tms_versioned requires .option('path', ...)")
        self._table = path.removeprefix("file:")
        self._schema = schema  # declared output schema (StructType)

        def _opt(name: str):
            return options.get(name) or options.get(name.lower())

        # startingVersion (Delta parity): first batch begins AT that
        # version's commit ("latest" = only commits after the query
        # starts). Offsets mean "consumed THROUGH v", so the initial
        # offset is startingVersion − 1.
        self._starting = _opt("startingVersion")
        # maxFilesPerTrigger (Delta parity, VERSION-granular): each
        # latestOffset advances through whole commits until adding the
        # next commit's files would exceed the cap (always ≥1 commit,
        # so an oversized single commit still progresses). Needs the
        # reader's version cursor; on the very first trigger and
        # after a RESTART the first latestOffset is uncapped (the
        # cursor re-arms there, or from the replayed batch's offsets
        # when one exists) — a bounded, documented slack that keeps
        # the offset log monotone.
        self._max_files = int(_opt("maxFilesPerTrigger") or 0)
        # maxBytesPerTrigger (Delta parity): same whole-commit walk
        # costed in on-disk parquet BYTES — the honest backpressure
        # proxy when file sizes are uneven (a file-count cap admits
        # one 10 GB file as readily as ten 1 MB ones). Composes with
        # the file cap: the walk stops at whichever budget fills
        # first, always admitting at least one commit.
        self._max_bytes = int(_opt("maxBytesPerTrigger") or 0)
        self._cursor: int | None = None

        def _flag(name: str) -> bool:
            return str(_opt(name) or "").lower() in ("true", "1", "yes")

        # Delta-parity escape hatches for non-append commits between
        # offsets. ignoreDeletes: tombstone-only commits stop failing
        # the stream — deleted rows are simply never RETRACTED (no
        # new files, empty delta). ignoreChanges (subsumes
        # ignoreDeletes): MERGE rewrites / compactions / overwrites
        # stop failing too — the delta is live(end) − live(start), so
        # rewritten files re-emit their SURVIVOR rows alongside the
        # changed ones: AT-LEAST-ONCE, downstream must dedupe by key
        # (exactly Delta's documented ignoreChanges contract).
        self._ignore_deletes = _flag("ignoreDeletes")
        self._ignore_changes = _flag("ignoreChanges")


    def _start_version(self) -> int:
        if self._starting is not None:
            if str(self._starting).lower() == "latest":
                return current_version(None, self._table)
            try:
                sv = int(self._starting)
            except (TypeError, ValueError):
                raise ValueError(
                    f"startingVersion must be a version number >= 1 "
                    f"or 'latest', got {self._starting!r}"
                ) from None
            if sv < 1:
                raise ValueError(
                    f"startingVersion must be >= 1 (versions are "
                    f"1-based), got {sv}"
                )
            return sv - 1
        return 0

    def initialOffset(self) -> dict:
        v = self._start_version()
        # monotone arm only: on a fresh query the engine calls
        # latestOffset BEFORE initialOffset (observed protocol), so
        # the cursor may already sit at the first batch's end —
        # winding it back here would make the next capped walk
        # re-cover (and re-emit) that batch's versions
        if self._cursor is None or v > self._cursor:
            self._cursor = v
        return {"version": v}

    def _added_cost(self, prev_man: dict | None, man: dict) -> tuple:
        """(files, bytes) NEW in ``man`` vs ``prev_man`` — listing
        metadata under the added dirs only (append commits add
        dirs; every parquet file there counts); ``prev_man=None``
        costs the full live set (the initial-snapshot step)."""
        prev_dirs = set(prev_man["dirs"]) if prev_man else set()
        dead = set() if prev_man else set(man.get("dead_files", []))
        n = b = 0
        for d in man["dirs"]:
            if d in prev_dirs:
                continue
            for fi in list_files(None, f"{self._table}/{d}", "*.parquet"):
                if _rel_of(fi.path, d) not in dead:
                    n += 1
                    b += fi.size
        return n, b

    def latestOffset(self) -> dict:
        cur = current_version(None, self._table)
        if not self._max_files and not self._max_bytes:
            self._cursor = cur
            return {"version": cur}
        start = self._cursor
        if start is None:
            # the engine may ask for the latest offset BEFORE the
            # initial one (fresh query) or after a restart whose last
            # batch was already COMMITTED (then there is no replayed
            # partitions() call to re-arm the cursor). Walking from
            # the startingVersion base here would return an offset
            # BELOW such a checkpoint — Spark plans a batch whenever
            # the offset JSON differs and chains each batch from the
            # previous end, so the offset log would move backwards
            # and already-delivered versions would re-emit. Return
            # ONE uncapped advance instead (the same documented slack
            # as the replay case); the cap applies from the next
            # trigger on, and a caught-up checkpoint plans no batch.
            self._cursor = cur
            return {"version": cur}
        if start >= cur:
            self._cursor = cur
            return {"version": cur}
        end = start
        files = size = 0
        try:
            prev_man = (
                _read_json(None, _manifest_path(self._table, end))
                if end
                else None
            )
            while end < cur:
                man = _read_json(None, _manifest_path(self._table, end + 1))
                n_new, b_new = self._added_cost(prev_man, man)
                over = (
                    self._max_files
                    and files + n_new > self._max_files
                ) or (
                    self._max_bytes and size + b_new > self._max_bytes
                )
                if (files or size) and over:
                    break  # always admit >= 1 commit per trigger
                files += n_new
                size += b_new
                end += 1
                prev_man = man
                if (self._max_files and files >= self._max_files) or (
                    self._max_bytes and size >= self._max_bytes
                ):
                    break
        except FileNotFoundError:
            # a manifest in the walk range was EXPIRED (retention):
            # the capped walk cannot cost the step, so fall back to
            # one uncapped advance — same behavior as a stream
            # without the option; partitions() then applies its own
            # initial-snapshot / append-chain rules against manifests
            # that do exist
            self._cursor = cur
            return {"version": cur}
        self._cursor = end
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        sv, ev = start["version"], end["version"]
        # re-arm the rate-limit cursor after a restart replay: the
        # engine hands us the checkpointed offsets here
        if self._cursor is None or ev > self._cursor:
            self._cursor = ev
        if ev <= sv:
            return [_FilePartition("")]
        man_end = _read_json(None, _manifest_path(self._table, ev))
        if sv == 0:
            # DV-aware initial snapshot (r12): active deletion
            # vectors ship IN the partition descriptors and are
            # applied executor-side in read() — a table that ran
            # delete_rows starts a consumer without an OPTIMIZE, and
            # erased rows never reach the stream. (The
            # ignoreChanges mid-stream re-emission path still
            # refuses tombstone deltas: a survivor re-emit has no
            # per-file vector scope.)
            return self._snapshot_partitions(man_end)
        else:
            man_start = _read_json(None, _manifest_path(self._table, sv))
            tolerant = self._ignore_changes
            if man_start.get("deletes", []) != man_end.get(
                "deletes", []
            ) and not (tolerant or self._ignore_deletes):
                raise ValueError(
                    f"versions {sv}..{ev} include a row-level delete — "
                    "no file-level delta; stream append-only tables or "
                    "pass ignoreDeletes (deleted rows are never "
                    "retracted)"
                )
            if (
                man_start.get("dead_files", [])
                != man_end.get("dead_files", [])
                and not tolerant
            ):
                raise ValueError(
                    f"versions {sv}..{ev} include a MERGE rewrite — "
                    "no pure-append file delta; stream append-only "
                    "tables or pass ignoreChanges (rewritten files "
                    "re-emit survivor rows: at-least-once)"
                )
            if (
                not set(man_start["dirs"]).issubset(man_end["dirs"])
                and not tolerant
            ):
                raise ValueError(
                    f"versions {sv}..{ev} are not an append chain "
                    "(overwrite/rollback/compact in between); pass "
                    "ignoreChanges to re-emit rewritten files"
                )
            old = set().union(
                *_live_rel_files(None, self._table, man_start).values()
            )
            live_end = _live_rel_files(None, self._table, man_end)
            new = {
                d: [rel for rel in rels if rel not in old]
                for d, rels in live_end.items()
            }
        # a batch can span an append AND a later tombstone on the
        # appended rows (or a rewrite under ignoreChanges): apply the
        # END manifest's vectors to the emitted files so rows deleted
        # within the batch's own range never reach the stream
        dels = _tombstones_by_dir(self._table, man_end)
        # renamed columns carry PHYSICAL names in data files (r13 fix,
        # same pairing the snapshot path ships)
        renames = tuple(
            (l, p)
            for l, p in (man_end.get("column_map") or {}).items()
            if l != p
        )
        parts = []
        for d, rels in new.items():
            entries = dels.get(d, [])
            for rel in rels:
                parts.append(
                    _FilePartition(
                        os.path.join(self._table, rel),
                        del_dirs=tuple(vd for vd, _ in entries),
                        del_keys=entries[0][1] if entries else (),
                        renames=renames,
                    )
                )
        return parts or [_FilePartition("")]

    def _snapshot_partitions(self, man: dict) -> list:
        """One partition per live file of ``man``, each carrying the
        deletion-vector dirs that cover its data dir (applied
        executor-side in read) and, for CDF readers, the constant
        change metadata."""
        dels = _tombstones_by_dir(self._table, man)
        ctype = getattr(self, "_snapshot_ctype", None)
        version = man.get("version", 0) if ctype else 0
        # renamed columns: data files carry PHYSICAL names — ship the
        # logical→physical pairs so read() aligns instead of
        # null-filling the renamed column (r13 fix)
        renames = tuple(
            (l, p)
            for l, p in (man.get("column_map") or {}).items()
            if l != p
        )
        parts: list[_FilePartition] = []
        for d, rels in _live_rel_files(None, self._table, man).items():
            entries = dels.get(d, [])
            del_dirs = tuple(vd for vd, _ in entries)
            del_keys = entries[0][1] if entries else ()
            for rel in rels:
                parts.append(
                    _FilePartition(
                        os.path.join(self._table, rel),
                        ctype=ctype,
                        version=version,
                        del_dirs=del_dirs,
                        del_keys=del_keys,
                        renames=renames,
                    )
                )
        return parts or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        from urllib.parse import unquote

        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        # hive partition values are PATH-encoded (col=value segments
        # under the data dir) and schema evolution leaves old files
        # without the added columns — align every batch to the
        # declared schema: path values injected, missing columns
        # null-filled, order pinned
        rel = os.path.relpath(partition.path, self._table)
        path_vals = {}
        for seg in rel.replace(os.sep, "/").split("/")[:-1]:
            if "=" in seg:
                k, _, val = seg.partition("=")
                path_vals[k] = unquote(val)
        # constants injected per partition: hive path values, plus the
        # CDF change metadata (_change_type from the descriptor when
        # constant — sidecar files carry their own — and
        # _commit_version always from the descriptor)
        const_vals: dict = dict(path_vals)
        if partition.ctype is not None:
            const_vals["_change_type"] = partition.ctype
        if partition.version:
            const_vals["_commit_version"] = partition.version

        # deletion vectors shipped in the descriptor: load the key
        # tuples (O(vector) — batch-sized by construction) and
        # subtract matching rows batch-by-batch, all executor-side.
        # A key column can live in THREE places: the parquet footer
        # (ordinary column), the directory path (hive partition
        # column — its constant value still participates in
        # tombstone matching; skipping it would emit erased rows,
        # the exact leak the pre-r12 snapshot refusal existed to
        # prevent), or neither (schema-evolution null-fill — NULL
        # never equals a vector key, so no row can be tombstoned).
        drop = None
        keys = list(partition.del_keys)
        path_key_vals: dict = {}
        if partition.del_dirs and keys:
            in_file = {
                k
                for k in keys
                if pf.schema_arrow.get_field_index(k) >= 0
            }
            outside = [k for k in keys if k not in in_file]
            if all(k in path_vals for k in outside):
                drop = set()
                vec_schema = None
                for vd in partition.del_dirs:
                    for f in _parquet_files(vd):
                        t = pq.read_table(f, columns=keys)
                        vec_schema = t.schema
                        drop.update(
                            zip(*[t.column(k).to_pylist() for k in keys])
                        )
                if drop:
                    for k in outside:
                        # type the path string through the VECTOR's
                        # column type so the tuple compares equal; a
                        # failed cast must fail loud, never emit
                        path_key_vals[k] = (
                            pa.array([path_vals[k]])
                            .cast(vec_schema.field(k).type)[0]
                            .as_py()
                        )
                else:
                    drop = None

        target = None
        if self._schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            target = to_arrow_schema(self._schema)

        def _subtract(batches):
            # anti-join NULL semantics (r13, ADVICE): a key tuple with
            # a None component can never match — SQL NULL equals
            # nothing — so keep such rows unconditionally instead of
            # letting Python's None == None tombstone them (the batch
            # reader's left_anti keeps them; diverging here would
            # drop NULL-keyed rows from streaming snapshots only).
            # delete_rows now refuses NULL-keyed vectors, so this
            # guards legacy vectors written before the refusal.
            for b in batches:
                n = b.num_rows
                cols = [
                    (
                        [path_key_vals[k]] * n
                        if k in path_key_vals
                        else b.column(k).to_pylist()
                    )
                    for k in keys
                ]
                mask = [
                    any(v is None for v in vals) or vals not in drop
                    for vals in zip(*cols)
                ]
                yield b.filter(pa.array(mask, type=pa.bool_()))

        raw = pf.iter_batches()
        if drop is not None:
            raw = _subtract(raw)
        # {target column → its name in THIS file} for renamed columns
        ren = dict(partition.renames)
        if target is None or (
            not const_vals
            and not ren
            and pf.schema_arrow.names == list(target.names)
        ):
            # Arrow batches straight to the executor's stream — no
            # per-row Python objects
            return raw

        def _aligned():
            for b in raw:
                n = b.num_rows
                cols = []
                for f in target:
                    fname = ren.get(f.name, f.name)
                    if fname in b.schema.names:
                        col = b.column(fname)
                        if col.type != f.type:
                            col = col.cast(f.type)
                    elif f.name in const_vals:
                        col = pa.array([const_vals[f.name]] * n).cast(
                            f.type
                        )
                    else:
                        col = pa.nulls(n, type=f.type)
                    cols.append(col)
                yield pa.RecordBatch.from_arrays(cols, schema=target)

        return _aligned()

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; nothing to clean up


class VersionedTableCdfStreamReader(VersionedTableStreamReader):
    """Streaming CHANGE DATA FEED reader (r12) — the
    ``tms_versioned_cdf`` source behind
    `operators.versioned.stream_read_version_changes`. Same offset
    protocol, rate limiting, and executor-side Arrow reads as the
    plain reader (it IS the plain reader for offsets); only the
    partition planning differs:

    - the initial snapshot emits every live row as ``insert`` at the
      current version, deletion vectors applied executor-side;
    - append steps emit their new files as ``insert`` rows;
    - MERGE/DELETE steps emit their recorded change sidecar files
      (rows carry their own ``_change_type``: update_pre/update_post/
      delete/insert — `enable_change_feed` makes commits record it);
    - OPTIMIZE/compact/ALTER steps emit nothing (row-preserving);
    - overwrite/rollback, and DML committed while the feed was OFF,
      fail the stream loudly (not retroactive — Delta's contract).

    ``_commit_version`` rides in every partition descriptor, so the
    feed is replayable per offset range like any other source."""

    _snapshot_ctype = "insert"  # _snapshot_partitions marks CDF rows

    def _added_cost(self, prev_man: dict | None, man: dict) -> tuple:
        """CDF costing for the capped offset walk: a DML commit's
        stream content is its change SIDECAR, not the CoW data dirs
        the plain costing counts — cost the sidecar files/bytes so
        maxFilesPerTrigger/maxBytesPerTrigger actually throttle
        sidecar-heavy ranges (they costed 0 before, r13)."""
        if prev_man is None or "changes" not in man:
            return super()._added_cost(prev_man, man)
        rel = man["changes"]
        if not rel:
            return 0, 0  # feed-on commit with zero changes
        files = list_files(None, f"{self._table}/{rel}", "*.parquet")
        return len(files), sum(fi.size for fi in files)

    def _declared_cmap(self) -> dict:
        """{declared logical name → physical name} for the stream's
        DECLARED schema — the namespace every emitted row must align
        to. The declared schema is the table's logical schema at
        stream start; a later rename makes the CURRENT manifest's
        logical names diverge from it, so resolve by walking versions
        back to the first manifest whose logical field names equal
        the declared names and take ITS column_map (physical names
        are stable across renames, so that map is the bridge from any
        step's namespace). Cached per reader."""
        import json as _json

        cached = getattr(self, "_cmap_decl", None)
        if cached is not None:
            return cached
        declared = [
            f.name
            for f in (self._schema.fields if self._schema else [])
            if f.name not in ("_change_type", "_commit_version")
        ]
        # Collect EVERY surviving manifest whose logical names match
        # the declared schema. Name equality alone cannot distinguish
        # a drop + same-name re-add (fresh physical identity) from
        # the manifest the schema actually came from — if two
        # matching manifests map a declared column to DIFFERENT
        # physicals, the checkpoint is ambiguous and the stream must
        # refuse, not silently adopt the newest mapping (r13 review
        # finding).
        resolved: dict | None = None
        v = current_version(None, self._table)
        while v > 0:
            try:
                man = _read_json(None, _manifest_path(self._table, v))
            except FileNotFoundError:
                break  # expired by retention — nothing older exists
            sch = man.get("schema")
            if sch:
                names = [
                    f["name"] for f in _json.loads(sch)["fields"]
                ]
                if names == declared:
                    cmap = man.get("column_map") or {}
                    eff = {c: cmap.get(c, c) for c in declared}
                    if resolved is None:
                        resolved = eff
                    elif resolved != eff:
                        raise ValueError(
                            f"the declared schema {declared} matches "
                            f"two versions of {self._table} with "
                            "DIFFERENT physical column identities (a "
                            "column was dropped and re-added under "
                            "the same name within retained history) "
                            "— cannot tell which version the "
                            "stream's schema meant, so changes could "
                            "silently mis-align; expire the pre-drop "
                            "versions (expire_versions) and start a "
                            "fresh checkpoint"
                        )
            v -= 1
        if resolved is not None:
            self._cmap_decl = {
                c: p for c, p in resolved.items() if c != p
            }
            return self._cmap_decl
        raise ValueError(
            f"no version of {self._table} matches the stream's "
            f"declared schema {declared} — the table's columns were "
            "renamed/dropped since the checkpoint; restart the stream "
            "to adopt the new schema"
        )

    def partitions(self, start: dict, end: dict):
        sv, ev = start["version"], end["version"]
        if self._cursor is None or ev > self._cursor:
            self._cursor = ev
        if ev <= sv:
            return [_FilePartition("")]
        if sv == 0:
            return self._snapshot_partitions(
                _read_json(None, _manifest_path(self._table, ev))
            )
        cmap_decl = self._declared_cmap()
        decl_cols = [
            f.name
            for f in (self._schema.fields if self._schema else [])
            if f.name not in ("_change_type", "_commit_version")
        ]

        def _renames(rmap_v: dict | None) -> tuple:
            """(declared_name, name_in_file) pairs via PHYSICAL
            identity (r13 fix — a sidecar or data file written before
            a rename must not null-fill the renamed column).
            ``rmap_v`` = {physical → step-logical} for sidecar files
            (written with the step version's LOGICAL names); None for
            data files, which carry PHYSICAL names directly."""
            out = []
            for c in decl_cols:
                p = cmap_decl.get(c, c)
                in_file = rmap_v.get(p, p) if rmap_v is not None else p
                if in_file != c:
                    out.append((c, in_file))
            return tuple(out)

        parts: list[_FilePartition] = []
        prev = _read_json(None, _manifest_path(self._table, sv))
        for v in range(sv + 1, ev + 1):
            man = _read_json(None, _manifest_path(self._table, v))
            kind, arg = _cdf_step_kind(prev, man)
            if kind == "sidecar" and arg:
                rmap_v = {
                    p: l
                    for l, p in (man.get("column_map") or {}).items()
                }
                ren = _renames(rmap_v)
                for f in _parquet_files(f"{self._table}/{arg}"):
                    # sidecar rows carry their own _change_type
                    parts.append(
                        _FilePartition(f, version=v, renames=ren)
                    )
            elif kind == "append":
                ren = _renames(None)
                for d in arg:
                    for f in _parquet_files(f"{self._table}/{d}"):
                        parts.append(
                            _FilePartition(
                                f,
                                ctype="insert",
                                version=v,
                                renames=ren,
                            )
                        )
            prev = man
        return parts or [_FilePartition("")]


class VersionedTableCdfDataSource(DataSource):
    """``spark.readStream.format("tms_versioned_cdf")`` — the change
    feed of a versioned table as a stream; see
    `VersionedTableCdfStreamReader`."""

    @classmethod
    def name(cls) -> str:
        return "tms_versioned_cdf"

    def schema(self):
        import json as _json

        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError(
                "tms_versioned_cdf requires .option('path', ...)"
            )
        _, man = _snapshot(None, path.removeprefix("file:"))
        if not man.get("schema"):
            raise ValueError(
                "change feed requires a recorded table schema "
                "(legacy stat-less manifest)"
            )
        base = StructType.fromJson(_json.loads(man["schema"]))
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )

    def streamReader(self, schema) -> VersionedTableCdfStreamReader:
        return VersionedTableCdfStreamReader(self.options, schema)
