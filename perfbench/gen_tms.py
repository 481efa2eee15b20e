"""Seeded generator for a daily TMS CSV lake (FIXTURES.md A1).

The lake is cut into import batches. Each batch is its own ingestion
root, ``<root>/batch-NN/<YYYY-MM>/daily/<YYYY-MM-DD>.csv``, holding
headerless 71-column rows: every loom and shift of ``days_per_batch``
days. A batch after the first re-exports the last days of the batch
before it (the overlap), so the guarded MERGE both updates and
inserts. The seed picks the overlap length, the values and which keys
carry the planted edge rows:

1. powered-off C shifts on new keys (inserted);
2. powered-off C shifts in the overlap, on keys the table already
   holds (skipped: first write wins);
3. borderline C shifts (``Parado=399`` or ``Funcionando=0.1``),
   which are not powered off and so update;
4. a short row with fewer than three fields (dropped);
5. a row with its trailing columns missing (nulls, read as 0);
6. a row with empty-string numerics (read as 0);
7. a UTF-8 BOM file in every batch, an upper-case ``.CSV`` extension,
   and one whole batch encoded in latin-1 with an accented ``Artigo``;
8. a correction file inside a batch that re-states some keys of an
   earlier file with a later mtime (the newest file wins).

`generate_lake` also replays the import semantics in plain Python and
returns what the versioned table must hold afterwards.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np

N_COLUMNS = 71
SHIFTS = ("A", "B", "C")
SHIFT_MINUTES = 440
_STOP_PAIRS = 10
_MTIME_BASE = 1_700_000_000  # fixed epoch seconds: file order never depends on the clock
LATIN1_BATCH = 1


@dataclass
class Batch:
    root: str
    encoding: str
    csv_rows: int  # lines written, edge rows included
    expected_rows: int  # distinct keys after the arity filter and dedupe


@dataclass
class Lake:
    batches: list[Batch]
    expected_keys: int  # distinct (DataTurno, Tear) in the final table
    fww_keys: dict[tuple[str, str], float]  # planted skipped rows -> kept Eficiencia
    newest_keys: dict[tuple[str, str], float]  # in-batch duplicates -> winning Eficiencia
    final: dict[tuple[str, str], float] = field(repr=False)  # every key -> Eficiencia


def _fmt(x: float) -> str:
    return f"{x:.2f}".rstrip("0").rstrip(".") if x != int(x) else str(int(x))


def _row(rng: np.random.Generator, key: str, tear: str, artigo: str) -> list[str]:
    """One full 71-field shift row with plausible values."""
    func = float(rng.integers(200, SHIFT_MINUTES + 1))
    parado = SHIFT_MINUTES - func
    metros = round(float(rng.uniform(50, 400)), 2)
    mins = rng.multinomial(int(parado), np.ones(_STOP_PAIRS) / _STOP_PAIRS)
    stops: list[str] = []
    for m in mins:
        stops += [str(int(rng.integers(0, 6)) if m else 0), str(int(m))]
    gen = ["0"] * 32
    gen[2 * int(rng.integers(0, 16)) + 1] = str(int(rng.integers(1, 30)))
    return (
        [key, tear, artigo, "", artigo,
         str(int(rng.integers(400, 701))), _fmt(round(float(rng.uniform(40, 100)), 2)),
         _fmt(func), _fmt(parado), str(int(rng.integers(1000, 90000))),
         _fmt(metros), _fmt(round(metros * 1.09361, 2)),
         "0", str(int(rng.integers(0, 3))), str(int(rng.integers(0, 20)))]
        + stops
        + [str(int(rng.integers(0, 500))) for _ in range(4)]
        + gen
    )


def _powered_off(row: list[str], parado: float = 420.0, func: float = 0.0) -> list[str]:
    row = list(row)
    row[7], row[8] = _fmt(func), _fmt(parado)
    return row


def _is_powered_off(row: list[str]) -> bool:
    return row[0].endswith(".C") and _num(row, 7) == 0.0 and _num(row, 8) >= 400.0


def _num(row: list[str], i: int) -> float:
    try:
        return float(row[i].strip() or 0) if i < len(row) else 0.0
    except ValueError:
        return 0.0


def generate_lake(
    root: str,
    seed: int,
    n_batches: int = 6,
    days_per_batch: int = 10,
    n_looms: int = 40,
    start: dt.date = dt.date(2024, 1, 1),
) -> Lake:
    """Write the lake under ``root`` and return its expected outcome.

    Every batch covers ``days_per_batch`` days, so each batch has the
    same size; the seed only moves the overlap (1-3 days) between
    batches and the values."""
    rng = np.random.default_rng(seed)
    looms = [f"{i:05d}" for i in range(1, n_looms + 1)]
    table: dict[tuple[str, str], list[str]] = {}
    fww: dict[tuple[str, str], float] = {}
    newest: dict[tuple[str, str], float] = {}
    batches: list[Batch] = []
    mtime = _MTIME_BASE
    first_new = 0  # index of the first day a batch has not seen before
    for b in range(n_batches):
        overlap = int(rng.integers(1, 4)) if b else 0
        days = [start + dt.timedelta(d) for d in range(first_new - overlap, first_new - overlap + days_per_batch)]
        first_new = first_new - overlap + days_per_batch
        broot = os.path.join(root, f"batch-{b:02d}")
        enc = "ISO-8859-1" if b == LATIN1_BATCH else "UTF-8"
        files: list[tuple[str, int, list[list[str]]]] = []
        for di, day in enumerate(days):
            rows: list[list[str]] = []
            for shift in SHIFTS:
                key = f"{day.isoformat()}.{shift}"
                for tear in looms:
                    artigo = f"ART-{int(rng.integers(100, 130))}"
                    if b == LATIN1_BATCH and tear == looms[0]:
                        artigo = "ARTÉ-7"
                    row = _row(rng, key, tear, artigo)
                    if shift == "C" and tear == looms[(di * 7 + b) % n_looms]:
                        row = _powered_off(row)  # edge 1, or 2 when the key exists
                    elif shift == "C" and tear == looms[(di * 7 + b + 1) % n_looms]:
                        row = _powered_off(row, parado=399.0)  # edge 3
                    elif shift == "C" and tear == looms[(di * 7 + b + 2) % n_looms]:
                        row = _powered_off(row, parado=435.0, func=0.1)  # edge 3
                    elif di < overlap and shift == "C" and (key, tear) in table and rng.random() < 0.1:
                        row = _powered_off(row)  # edge 2, planted on an existing key
                    rows.append(row)
            if di == 0:
                rows.append([f"{day.isoformat()}.A", "00099"])  # edge 4
                rows[1] = rows[1][:39]  # edge 5
                rows[2][5] = rows[2][6] = ""  # edge 6
            files.append((f"{day.isoformat()}.{'CSV' if di == 1 else 'csv'}", mtime, rows))
            mtime += 1
        # edge 8: a later correction file re-states keys of the first day
        fix_rows = [list(r) for r in files[0][2][3:3 + 2 * n_looms:n_looms // 4]]
        for r in fix_rows:
            r[6] = _fmt(round(float(rng.uniform(1, 39)), 2))
        files.append((f"{days[0].isoformat()}_fix.csv", mtime, fix_rows))
        mtime += 1

        csv_rows = 0
        winners: dict[tuple[str, str], tuple[int, str, list[str]]] = {}
        for fi, (name, mt, rows) in enumerate(files):
            month = name[:7]
            ddir = os.path.join(broot, month, "daily")
            os.makedirs(ddir, exist_ok=True)
            path = os.path.join(ddir, name)
            text = "\n".join(",".join(r) for r in rows) + "\n"
            with open(path, "wb") as fh:
                if fi == 0 and enc == "UTF-8":
                    fh.write(b"\xef\xbb\xbf")  # edge 7
                fh.write(text.encode(enc))
            os.utime(path, (mt, mt))
            csv_rows += len(rows)
            for r in rows:
                if len(r) < 3 or not r[0] or not r[1]:
                    continue
                k = (r[0], r[1])
                if k not in winners or (mt, path) > winners[k][:2]:
                    winners[k] = (mt, path, r)
        for name, _, rows in files[-1:]:
            for r in rows:
                newest[(r[0], r[1])] = _num(r, 6)
        for k, (_, _, r) in winners.items():
            if k not in table:
                table[k] = r
            elif _is_powered_off(r):
                fww[k] = _num(table[k], 6)
            else:
                table[k] = r
        batches.append(Batch(broot, enc, csv_rows, len(winners)))
    final = {k: _num(r, 6) for k, r in table.items()}
    # a later batch may overwrite an earlier winner; keep only keys whose
    # planted outcome is still the final one
    newest = {k: v for k, v in newest.items() if final.get(k) == v}
    fww = {k: v for k, v in fww.items() if final.get(k) == v}
    return Lake(batches, len(table), fww, newest, final)
