"""Output oracle for the benchmark.

Payroll: DuckDB runs the pipeline gate's own oracle logic
(`PIPE_PUA_SQL` / `PIPE_CPA_SQL` from registry_pipelines.py, from the
first derived CTE on) over the SAME generated files, read here with the
stdlib (csv, zip/XML) rather than the engine's readers.  Keep-first
winners follow file row order, the order `with_ingest_order` captures.

Registry: the gate's `oracle_sql()` entries over the generated parquet
tables, compared with the gate's `frames_match` (rows only for queries
without an oracle, as the gate does).

Outputs are compared as multisets of canonical rows: '' and null are one
value (a CSV cell cannot tell them apart) and timestamps are rendered
'YYYY-MM-DD HH:MM:SS'.
"""

from __future__ import annotations

import collections
import csv
import datetime as dt
import re
import xml.etree.ElementTree as ET
import zipfile

from uofi_payroll_etl_main_spark.registry_pipelines import (
    CPA_FY_END_YEAR,
    PIPE_CPA_SQL,
    PIPE_PUA_SQL,
)

from gen import CERT_HEADER, DIM_HEADERS, FY_END_YEAR, PUA_HEADER

if FY_END_YEAR != CPA_FY_END_YEAR:
    raise ImportError("generated cert dates must straddle the gate oracle's fiscal year")

PUA_TS_COLS = {"Calc Date"}

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_TS = re.compile(r"^(\d{4}-\d\d-\d\d)[T ](\d\d:\d\d:\d\d)(\.0+)?(Z|[+-]00:?00)?$")


# --------------------------------------------------------------------------
# Readers (independent of the engine's io module)
# --------------------------------------------------------------------------

def read_csv_rows(path: str) -> tuple[list[str], list[list[str | None]]]:
    """Header and rows; an empty cell is None (Spark's CSV reader
    default)."""
    with open(path, newline="", encoding="utf-8") as f:
        r = csv.reader(f)
        header = next(r)
        return header, [[v if v != "" else None for v in row] for row in r]


def read_xlsx_rows(path: str) -> tuple[list[str], list[list[str | None]]]:
    """First sheet of a workbook: shared, inline and number cells as
    their text; an absent cell is None."""
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
        shared = []
        if "xl/sharedStrings.xml" in names:
            for si in ET.fromstring(zf.read("xl/sharedStrings.xml")).iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        sheet = sorted(n for n in names if n.startswith("xl/worksheets/sheet"))[0]
        root = ET.fromstring(zf.read(sheet))
    rows = []
    for row in root.iter(f"{_NS}row"):
        cells = {}
        for c in row.iter(f"{_NS}c"):
            col = 0
            for ch in c.get("r"):
                if not ch.isalpha():
                    break
                col = col * 26 + ord(ch) - 64
            t = c.get("t")
            if t == "inlineStr":
                v = "".join(x.text or "" for x in c.iter(f"{_NS}t"))
            else:
                ve = c.find(f"{_NS}v")
                v = None if ve is None else ve.text
                if t == "s" and v is not None:
                    v = shared[int(v)]
            cells[col - 1] = v
        rows.append(cells)
    header = [rows[0][i] for i in range(len(rows[0]))]
    return header, [[r.get(i) for i in range(len(header))] for r in rows[1:]]


def read_rows(path: str):
    return read_xlsx_rows(path) if path.endswith(".xlsx") else read_csv_rows(path)


# --------------------------------------------------------------------------
# Canonical rows
# --------------------------------------------------------------------------

def canon_value(v, is_ts: bool = False):
    if v is None or v == "":
        return None
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    v = str(v)
    if is_ts:
        m = _TS.match(v)
        if m:
            return f"{m.group(1)} {m.group(2)}"
    return v


def canon_rows(header: list[str], rows, ts_cols=frozenset()) -> collections.Counter:
    flags = [h in ts_cols for h in header]
    return collections.Counter(
        tuple(canon_value(v, f) for v, f in zip(r, flags)) for r in rows
    )


def compare(expected_header, expected: collections.Counter, path: str, ts_cols=frozenset()) -> str | None:
    """None when the output file at `path` holds exactly the expected
    rows, else a one-line reason."""
    header, rows = read_rows(path)
    if header != list(expected_header):
        return f"{path}: header {header} != {list(expected_header)}"
    got = canon_rows(header, rows, ts_cols)
    if got == expected:
        return None
    extra = got - expected
    missing = expected - got
    n_got, n_exp = sum(got.values()), sum(expected.values())
    sample = next(iter(extra or missing))
    kind = "unexpected" if extra else "missing"
    return f"{path}: {n_got} rows vs {n_exp} expected; {kind} row {sample}"


# --------------------------------------------------------------------------
# Payroll oracle
# --------------------------------------------------------------------------

def _tail(sql: str, first_cte: str) -> str:
    i = sql.index(f"\n{first_cte} AS (")
    return sql[i + 1:]


def _register(con, name: str, header: list[str], rows, order_col: str | None = None) -> None:
    import pandas as pd

    df = pd.DataFrame(rows, columns=header, dtype=object)
    if order_col:
        df[order_col] = range(len(df))
    con.register(name + "_df", df)
    casts = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in header)
    extra = f", {order_col}" if order_col else ""
    con.execute(f"CREATE TABLE {name} AS SELECT {casts}{extra} FROM {name}_df")
    con.unregister(name + "_df")


def _read_checked(path: str, header: list[str]):
    got, rows = read_rows(path)
    if got != header:
        raise ValueError(f"{path}: header {got} != {header}")
    return rows


def _dims(con, paths: dict) -> str:
    for name in ("ts_org", "ts_dept", "overtime", "te_m"):
        _register(con, f"{name}_src", DIM_HEADERS[name], _read_checked(paths[name], DIM_HEADERS[name]))
    # the engine's join edge projects and de-duplicates each dim (D1)
    return (
        'ts_org_v AS (SELECT DISTINCT "TS-Org Code", "TS-Org Title" FROM ts_org_src),\n'
        'ts_dept_v AS (SELECT DISTINCT "TS-Org Dept Code", "TS-Org Dept Title" FROM ts_dept_src),\n'
        "overtime_v AS (SELECT * FROM overtime_src),\n"
        "te_m_v AS (SELECT * FROM te_m_src),\n"
    )


def pua_expected(paths: dict) -> tuple[list[str], collections.Counter]:
    import duckdb

    # the gate SQL starts after the engine's header-typo rename
    select = ", ".join('"ADj Reason Code" AS "ADJ Reason Code"' if c == "ADj Reason Code"
                       else f'"{c}"' for c in PUA_HEADER)
    with duckdb.connect() as con:
        _register(con, "pua_src", PUA_HEADER, _read_checked(paths["pua"], PUA_HEADER),
                  order_col="__ord")
        sql = (
            f"WITH pua AS (SELECT {select}, __ord FROM pua_src),\n"
            + _dims(con, paths)
            + _tail(PIPE_PUA_SQL, "derived")
        )
        cur = con.execute(sql)
        out_header = [d[0] for d in cur.description]
        return out_header, canon_rows(out_header, cur.fetchall(), PUA_TS_COLS)


def cpa_expected(paths: dict) -> tuple[list[str], collections.Counter]:
    import duckdb

    cols = ", ".join(f'"{c}"' for c in CERT_HEADER)
    with duckdb.connect() as con:
        for name in ("cert_bw", "cert_mn"):
            _register(con, name, CERT_HEADER, _read_checked(paths[name], CERT_HEADER),
                      order_col="ord")
        sql = (
            f"WITH cert AS (SELECT {cols}, 0 AS src, ord FROM cert_bw"
            f" UNION ALL SELECT {cols}, 1 AS src, ord FROM cert_mn),\n"
            + _dims(con, paths)
            + _tail(PIPE_CPA_SQL, "fy")
        )
        cur = con.execute(sql)
        out_header = [d[0] for d in cur.description]
        return out_header, canon_rows(out_header, cur.fetchall())


def write_expected(path: str, header: list[str], rows: collections.Counter) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for row in sorted(rows.elements(), key=lambda r: tuple("" if v is None else v for v in r)):
            w.writerow(["" if v is None else v for v in row])


def read_expected(path: str) -> tuple[list[str], collections.Counter]:
    header, rows = read_csv_rows(path)
    return header, canon_rows(header, rows)


# --------------------------------------------------------------------------
# Registry oracle
# --------------------------------------------------------------------------

def registry_expected(table_dir: str, names: list[str]) -> dict:
    """{query: DuckDB result frame, or None where the gate is rows-only}."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    with duckdb.connect() as con:
        for t in ("orders", "lineitem", "supplier", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
        return {n: (con.execute(oracles[n]).df() if n in oracles else None) for n in names}


def registry_compare(name: str, got, expected) -> str | None:
    from tools.check_oracles import frames_match

    if expected is None:
        return None if len(got) > 0 else f"{name}: no rows"
    ok, why = frames_match(got, expected)
    return None if ok else f"{name}: {why}"
