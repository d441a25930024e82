"""Checks of the benchmark's own input generator and output oracle (no
Spark needed):

    python3 -m pytest perfbench/test_oracle.py -q
"""

from __future__ import annotations

import csv
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import oracle  # noqa: E402


def _inputs(tmp_path, seed=5):
    return gen.build_payroll(str(tmp_path / f"in{seed}"), seed, 400, 200)


def _write_output(path, header, rows, perturb=None):
    """Write rows the way the engine's CSV sink does (timestamps in
    ISO-T form); `perturb` = (row, col) gets one changed cell."""
    rows = [list(r) for r in sorted(rows.elements(), key=lambda r: tuple(v or "" for v in r))]
    if perturb:
        r, c = perturb
        rows[r][c] = (rows[r][c] or "") + "x"
    if path.endswith(".xlsx"):
        gen.write_xlsx(path, header, rows)
        return
    ts = [h in oracle.PUA_TS_COLS for h in header]
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for row in rows:
            w.writerow(["" if v is None else (v.replace(" ", "T") + ".000Z" if t else v)
                        for v, t in zip(row, ts)])


def test_same_seed_gives_identical_files(tmp_path):
    a, b = _inputs(tmp_path), gen.build_payroll(str(tmp_path / "again"), 5, 400, 200)
    a.update({f"reg_{k}": v for k, v in gen.build_registry(str(tmp_path / "r1"), 5, 500).items()})
    b.update({f"reg_{k}": v for k, v in gen.build_registry(str(tmp_path / "r2"), 5, 500).items()})
    for name in a:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read(), name


def test_edge_case_shares_do_not_depend_on_seed():
    def shares(seed):
        rows = gen.pua_rows(seed, 1000)
        keys = {}
        for r in rows:
            posn = r[13][:-2] if r[13].endswith(".0") else r[13]
            suff = r[14][:-2] if r[14].endswith(".0") else r[14]
            keys[(r[0], r[1], r[2], r[3], r[4], posn, suff)] = 1
        return (1000 - len(keys), sum(r[5] is None for r in rows),
                sum(r[19] in (None, "", "nan") for r in rows))

    assert shares(1) == shares(2) == shares(3)


def test_oracle_accepts_exact_output_and_rejects_one_changed_cell(tmp_path):
    paths = _inputs(tmp_path)
    for name, (header, rows), ts in (
        ("pua", oracle.pua_expected(paths), oracle.PUA_TS_COLS),
        ("cpa", oracle.cpa_expected(paths), frozenset()),
    ):
        assert sum(rows.values()) > 0
        for ext in ("csv", "xlsx"):
            good = str(tmp_path / f"{name}_good.{ext}")
            _write_output(good, header, rows)
            assert oracle.compare(header, rows, good, ts) is None
            bad = str(tmp_path / f"{name}_bad.{ext}")
            _write_output(bad, header, rows, perturb=(sum(rows.values()) // 2, 0))
            why = oracle.compare(header, rows, bad, ts)
            assert why is not None and "unexpected row" in why


def test_oracle_rejects_a_dropped_row(tmp_path):
    paths = _inputs(tmp_path)
    header, rows = oracle.pua_expected(paths)
    short = rows.copy()
    short[next(iter(short))] -= 1
    p = str(tmp_path / "pua.csv")
    _write_output(p, header, +short)
    assert "missing row" in oracle.compare(header, rows, p, oracle.PUA_TS_COLS)
