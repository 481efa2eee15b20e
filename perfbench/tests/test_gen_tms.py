"""The seeded TMS lake generator: deterministic, every FIXTURES.md A1
edge row present, and expectations that agree with an independent
reading of the files it wrote."""

from __future__ import annotations

import os

import pytest

import gen_tms


def _files(root: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(root):
        out += [os.path.join(dirpath, n) for n in names]
    return sorted(out)


def _rows(path: str, encoding: str) -> list[list[str]]:
    with open(path, "rb") as fh:
        text = fh.read().decode("utf-8-sig" if encoding == "UTF-8" else "latin-1")
    return [line.split(",") for line in text.splitlines()]


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    return root, gen_tms.generate_lake(root, seed=5)


def test_same_seed_same_lake(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    la, lb = gen_tms.generate_lake(a, 9), gen_tms.generate_lake(b, 9)
    fa, fb = _files(a), _files(b)
    assert [os.path.relpath(f, a) for f in fa] == [os.path.relpath(f, b) for f in fb]
    for x, y in zip(fa, fb):
        with open(x, "rb") as fx, open(y, "rb") as fy:
            assert fx.read() == fy.read()
        assert os.stat(x).st_mtime == os.stat(y).st_mtime
    assert (la.expected_keys, la.fww_keys, la.newest_keys, la.final) == (
        lb.expected_keys, lb.fww_keys, lb.newest_keys, lb.final)


def test_seed_moves_the_overlap_and_values(tmp_path):
    overlaps, finals = set(), []
    for seed in range(6):
        lk = gen_tms.generate_lake(str(tmp_path / str(seed)), seed)
        overlaps.add(lk.expected_keys)
        finals.append(lk.final)
    assert len(overlaps) > 1  # the overlap length changes the key count
    assert finals[0] != finals[1]


def test_batches_have_the_same_size(lake):
    _, lk = lake
    assert len({b.csv_rows for b in lk.batches}) == 1
    assert len({b.expected_rows for b in lk.batches}) == 1


def test_edge_rows_present(lake):
    root, lk = lake
    names = [os.path.basename(f) for f in _files(root)]
    assert any(n.endswith(".CSV") for n in names)  # case-insensitive extension
    assert any(n.endswith("_fix.csv") for n in names)  # in-batch correction file
    boms, accented = 0, set()
    rows: list[list[str]] = []
    for i, b in enumerate(lk.batches):
        for f in _files(b.root):
            with open(f, "rb") as fh:
                boms += fh.read(3) == b"\xef\xbb\xbf"
            rs = _rows(f, b.encoding)
            if any("ARTÉ-7" in r for r in rs):
                accented.add(i)
            rows += rs
    assert boms == sum(b.encoding == "UTF-8" for b in lk.batches)  # one BOM file per UTF-8 batch
    assert accented == {i for i, b in enumerate(lk.batches) if b.encoding == "ISO-8859-1"} == {gen_tms.LATIN1_BATCH}
    full = [r for r in rows if len(r) == gen_tms.N_COLUMNS]
    assert any(len(r) < 3 for r in rows)  # short row
    assert any(len(r) == 39 for r in rows)  # trailing columns missing
    assert any(r[5] == "" and r[6] == "" for r in full)  # empty numerics
    off = [r for r in full if r[0].endswith(".C") and r[7] == "0" and float(r[8]) >= 400]
    assert off  # powered-off C shifts
    assert any(r[0].endswith(".C") and r[7] == "0" and r[8] == "399" for r in full)
    assert any(r[0].endswith(".C") and r[7] == "0.1" for r in full)


def test_expectations_match_the_files(lake):
    """Recount from the files: distinct valid keys, per-batch keys, and
    that each planted first-write-wins key is powered off in a later
    batch and present in an earlier one."""
    _, lk = lake
    seen_by_batch = []
    for b in lk.batches:
        keys = {}
        for f in _files(b.root):
            for r in _rows(f, b.encoding):
                if len(r) >= 3 and r[0] and r[1]:
                    keys[(r[0], r[1])] = r
        assert len(keys) == b.expected_rows
        seen_by_batch.append(keys)
    all_keys = set().union(*seen_by_batch)
    assert len(all_keys) == lk.expected_keys == len(lk.final)
    assert lk.fww_keys and lk.newest_keys
    for k, eff in lk.fww_keys.items():
        batches = [i for i, ks in enumerate(seen_by_batch) if k in ks]
        assert len(batches) >= 2
        assert k[0].endswith(".C")
        assert lk.final[k] == eff
