"""Seeded input generator for the payroll and registry workloads.

Every input is a pure function of (kind, seed, size): the same arguments
give byte-identical files.  Edge-case shares are fixed counts laid out
by a seeded permutation, so they are the same for every seed (see
SHARES).  The xlsx writer is stdlib zip/XML and independent of the
engine's own xlsx kernels.  prepare.py drives these builders.
"""

from __future__ import annotations

import csv
import os
import zipfile

import numpy as np

# Fixed shares of the generated payroll rows (fractions of the relevant
# file's rows), identical for every seed.
SHARES = {
    "pua_business_key_duplicates": 0.10,  # copy an earlier row's (UIN, Pay Event, Job Number)
    "pua_null_coa": 0.03,
    "pua_org_unmatched": 0.15,            # TS-Org Code absent from ts_org
    "pua_dept_unmatched": 0.20,           # TS-Org Department Code absent from ts_dept
    "pua_eclass_unmatched": 0.10,         # ECLS absent from overtime
    "pua_tem_unmatched": 0.10,            # TE M with no mode-map entry
    "pua_tem_null": 0.05,
    "pua_excel_float_dept": 0.20,         # DEPT Code written as "123.0"
    "pua_excel_float_posn": 0.15,         # POSN written as "12345.0"
    "pua_adj_blankish": 0.30,             # ADj Reason Code null / '' / 'nan', 0.10 each
    "pua_bad_calc_date": 0.05,
    "cert_exact_duplicates": 0.05,        # D3: exact copies of an earlier row
    "cert_uin_job_repeats": 0.10,         # D4: same UIN Job as an earlier row, other fields differ
    "cert_mn_uin_job_from_bw": 0.05,      # MN rows whose UIN Job also appears in BW (BW wins)
    "cert_outside_fiscal_year": 0.20,     # TRAN_CREATE_DT just before / after the fiscal year
    "cert_bad_create_dt": 0.03,
    "cert_hyphenless_college": 0.05,
    "cert_not_applied": 0.35,             # ACTION other than "3 - Apply"
    "cert_uin_job_in_te_m": 0.50,         # UIN Job present in te_m
}

FY_END_YEAR = 1995  # the pipeline gate's fiscal year: 1994-07-01 .. 1995-06-30

PUA_HEADER = [
    "UIN", "Year", "Pay ID", "Pay #", "Seq #", "TS COA", "TS ORG", "DEPT Code",
    "Department Name", "ECLS", "ECLS DESC", "TE M", "Time Entry", "POSN", "SUFF",
    "College Code", "College Name", "Earn Code", "DESCRIPTION", "ADj Reason Code",
    "ADJ Reason DESC", "Calc Date",
]

CERT_HEADER = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT", "ADJ_REASON",
    "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN",
    "JOB_ECLS", "COLLEGE", "OWNING_UIN", "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID",
    "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE",
    "ACTION", "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME",
    "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME",
]

DIM_HEADERS = {
    "ts_org": ["TS-Org Code", "TS-Org Title"],
    "ts_dept": ["TS-Org Dept Code", "TS-Org Dept Title"],
    "overtime": ["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
    "te_m": ["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"],
    "feeder": ["Feeder", "Description"],
}

COAS = ["1", "2", "9"]
ORGS = [f"{i:03d}" for i in range(100, 140)]        # 40 orgs; the first 30 are in ts_org
DEPTS = [f"{i:03d}" for i in range(200, 250)]       # 50 depts; the first 40 are in ts_dept
ECLS = ["AA", "BA", "BC", "EX", "GA", "HA", "SA", "TA"]  # TA is absent from overtime
TEM = ["W", "B", "T", "P", "X"]                     # X has no time-entry method
COLLEGES = [("KV", "Liberal Arts"), ("KP", "Grainger-Engineering"), ("KL", "Law"),
            ("NE", "Education"), ("KR", "Fine Arts")]
EARN = [("RGS", "Regular Salary"), ("OTP", "Overtime Premium"), ("SHD", "Shift Diff")]
ADJ = [("RET", "Retro"), ("COR", "Correction"), ("LAT", "Late")]
ACTIONS_OTHER = ["1 - Review", "2 - Route", "4 - Return"]


def _exact(rng, n: int, share: float, first: int = 0) -> np.ndarray:
    """Boolean mask with exactly round(n * share) True at seeded
    positions >= `first`."""
    m = np.zeros(n, dtype=bool)
    m[first + rng.permutation(n - first)[: int(round(n * share))]] = True
    return m


def _pick(rng, pool, n: int) -> np.ndarray:
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _earlier(rng, idx: np.ndarray, eligible: np.ndarray) -> np.ndarray:
    """For each row in `idx`, a seeded earlier row drawn from `eligible`
    (sorted, starting at row 0)."""
    return np.array([eligible[rng.integers(0, np.searchsorted(eligible, i))] for i in idx],
                    dtype=np.int64)


# --------------------------------------------------------------------------
# PUA extract
# --------------------------------------------------------------------------

def pua_rows(seed: int, n: int) -> list[list[str | None]]:
    """PUA rows in PUA_HEADER order; None is a missing cell."""
    rng = np.random.default_rng([seed, 1])
    n_emp = max(n // 4, 10)
    uin_pool = np.array([str(100000000 + x) for x in rng.choice(899999999, n_emp, replace=False)], dtype=object)

    uin = uin_pool[rng.integers(0, n_emp, n)]
    year = _pick(rng, ["2024", "2025"], n)
    pay_id = _pick(rng, ["BW", "MN"], n)
    pay_nbr = np.array([str(x) for x in rng.integers(1, 27, n)], dtype=object)
    seq = np.array([str(x) for x in rng.integers(0, 4, n)], dtype=object)
    # unique position numbers make every non-duplicate business key unique
    posn_num = 10000 + rng.permutation(n * 4)[:n]
    posn = np.array([f"U{x}" for x in posn_num], dtype=object)
    flt = _exact(rng, n, SHARES["pua_excel_float_posn"])
    posn[flt] = [f"{x}.0" for x in posn_num[flt]]
    suff = _pick(rng, ["00", "01", "1.0", "02"], n)

    coa = _pick(rng, COAS, n)
    coa[_exact(rng, n, SHARES["pua_null_coa"])] = None
    org_miss = _exact(rng, n, SHARES["pua_org_unmatched"])
    org = np.where(org_miss, _pick(rng, ORGS[30:], n), _pick(rng, ORGS[:30], n))
    dept_miss = _exact(rng, n, SHARES["pua_dept_unmatched"])
    dept = np.where(dept_miss, _pick(rng, DEPTS[40:], n), _pick(rng, DEPTS[:40], n))
    dept_name = np.array([f"Department {d}" for d in dept], dtype=object)
    dflt = _exact(rng, n, SHARES["pua_excel_float_dept"])
    dept = dept.astype(object)
    dept[dflt] = [f"{d}.0" for d in dept[dflt]]
    ecls_miss = _exact(rng, n, SHARES["pua_eclass_unmatched"])
    ecls = np.where(ecls_miss, "TA", _pick(rng, ECLS[:-1], n)).astype(object)
    ecls_desc = np.array([f"E-Class {e}" for e in ecls], dtype=object)
    tem = _pick(rng, TEM[:-1], n)
    tem[_exact(rng, n, SHARES["pua_tem_unmatched"])] = "X"
    tem[_exact(rng, n, SHARES["pua_tem_null"])] = None
    te_kind = rng.integers(0, 10, n)
    time_entry = np.where(te_kind < 5, "", np.where(te_kind < 7, None, "Manual")).astype(object)
    college = rng.integers(0, len(COLLEGES), n)
    earn = rng.integers(0, len(EARN), n)
    adj = rng.integers(0, len(ADJ), n)
    adj_code = np.array([ADJ[a][0] for a in adj], dtype=object)
    adj_desc = np.array([ADJ[a][1] for a in adj], dtype=object)
    blank = rng.permutation(n)[: int(round(n * SHARES["pua_adj_blankish"]))]
    for k, i in enumerate(blank):
        adj_code[i] = (None, "", "nan")[k % 3]
        adj_desc[i] = None if k % 2 else "Blank"
    day = rng.integers(0, 700, n)
    secs = rng.integers(0, 86400, n)
    base = np.datetime64("2024-01-01")
    calc = []
    for d, s in zip(day, secs):
        ds = str(base + np.timedelta64(int(d), "D"))
        calc.append(ds if s % 2 else f"{ds} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}")
    calc = np.array(calc, dtype=object)
    bad = _exact(rng, n, SHARES["pua_bad_calc_date"])
    calc[bad] = _pick(rng, ["N/A", "pending", "99/99/2025"], int(bad.sum()))

    cols = [uin, year, pay_id, pay_nbr, seq, coa, org, dept, dept_name, ecls, ecls_desc, tem,
            time_entry, posn, suff,
            np.array([COLLEGES[c][0] for c in college], dtype=object),
            np.array([COLLEGES[c][1] for c in college], dtype=object),
            np.array([EARN[e][0] for e in earn], dtype=object),
            np.array([EARN[e][1] for e in earn], dtype=object),
            adj_code, adj_desc, calc]
    # business-key duplicates: copy an earlier non-duplicate row's key
    # columns (UIN, Year, Pay ID, Pay #, Seq #, POSN, SUFF); the other
    # columns keep their own values, so keep-first picks a visible winner.
    dup = _exact(rng, n, SHARES["pua_business_key_duplicates"], first=1)
    dup_idx = np.flatnonzero(dup)
    src = _earlier(rng, dup_idx, np.flatnonzero(~dup))
    for c in (0, 1, 2, 3, 4, 13, 14):
        cols[c][dup_idx] = cols[c][src]
    # the Excel-float twin of a copied key still collides after repair
    posn = cols[13]
    for i in dup_idx[::2]:
        v = posn[i]
        if v.startswith("U"):
            continue
        posn[i] = v[:-2] if v.endswith(".0") else f"{v}.0"
    return [list(r) for r in zip(*cols)]


# --------------------------------------------------------------------------
# Certification extracts (BW + MN, same 34-column schema)
# --------------------------------------------------------------------------

def _fy_dates(rng, n: int) -> np.ndarray:
    """TRAN_CREATE_DT spread across the fiscal year, with a fixed share
    just outside both ends and a fixed share unparseable."""
    fy0 = np.datetime64(f"{FY_END_YEAR - 1}-07-01")
    span = int((np.datetime64(f"{FY_END_YEAR}-07-01") - fy0).astype(int))
    inside = [str(fy0 + np.timedelta64(int(d), "D")) for d in rng.integers(0, span, n)]
    out = np.array([f"{d} {h:02d}:{m:02d}:00" for d, h, m in
                    zip(inside, rng.integers(0, 24, n), rng.integers(0, 60, n))], dtype=object)
    edge = [f"{FY_END_YEAR - 1}-07-01 00:00:00", f"{FY_END_YEAR}-06-30 23:59:59",
            f"{FY_END_YEAR}-06-30"]
    edge_i = rng.permutation(n)[: max(1, n // 50)]
    out[edge_i] = _pick(rng, edge, len(edge_i))
    outside = [f"{FY_END_YEAR - 1}-06-30 23:59:59", f"{FY_END_YEAR}-07-01 00:00:00",
               f"{FY_END_YEAR - 1}-03-15", f"{FY_END_YEAR}-09-01 12:00:00"]
    out_mask = _exact(rng, n, SHARES["cert_outside_fiscal_year"])
    out[out_mask] = _pick(rng, outside, int(out_mask.sum()))
    bad = np.flatnonzero(~out_mask)[rng.permutation(int((~out_mask).sum()))[: int(round(n * SHARES["cert_bad_create_dt"]))]]
    out[bad] = "not a date"
    return out


def cert_rows(seed: int, n: int, pay_id: str, uin_pool: np.ndarray,
              reuse_jobs: list[tuple[str, str]] | None = None) -> list[list[str | None]]:
    rng = np.random.default_rng([seed, 2 if pay_id == "BW" else 3])
    uin = uin_pool[rng.integers(0, len(uin_pool), n)]
    job = np.array([f"U{x}-{s:02d}" for x, s in
                    zip(20000 + rng.permutation(n * 4)[:n], rng.integers(0, 3, n))], dtype=object)
    if reuse_jobs:
        m = np.flatnonzero(_exact(rng, n, SHARES["cert_mn_uin_job_from_bw"]))
        pick = rng.integers(0, len(reuse_jobs), len(m))
        for i, p in zip(m, pick):
            uin[i], job[i] = reuse_jobs[p]
    coa = _pick(rng, COAS, n)
    coa[_exact(rng, n, SHARES["pua_null_coa"])] = None
    org = np.where(_exact(rng, n, SHARES["pua_org_unmatched"]),
                   _pick(rng, ORGS[30:], n), _pick(rng, ORGS[:30], n)).astype(object)
    ecls = np.where(_exact(rng, n, SHARES["pua_eclass_unmatched"]), "TA",
                    _pick(rng, ECLS[:-1], n)).astype(object)
    col_i = rng.integers(0, len(COLLEGES), n)
    college = np.array([f"{COLLEGES[c][0]}-{COLLEGES[c][1]}" for c in col_i], dtype=object)
    hy = _exact(rng, n, SHARES["cert_hyphenless_college"])
    college[hy] = [COLLEGES[c][0] for c in col_i[hy]]
    action = np.full(n, "3 - Apply", dtype=object)
    na = _exact(rng, n, SHARES["cert_not_applied"])
    action[na] = _pick(rng, ACTIONS_OTHER, int(na.sum()))
    created = _fy_dates(rng, n)
    rate = rng.integers(1500, 6000, n)
    last = _pick(rng, ["Smith", "Lee", "Garcia", "Chen", "Patel", "Okafor"], n)
    first = _pick(rng, ["Ana", "Bo", "Cy", "Di", "Ed", "Flo"], n)
    rows = []
    for i in range(n):
        u = uin[i]
        rows.append([
            u, str(FY_END_YEAR), pay_id, str(1 + i % 26), str(i % 3), f"T{seed % 1000:03d}{i:07d}",
            "TIME", ("RET", "", "COR")[i % 3], created[i], f"{FY_END_YEAR}-08-01 00:00:00",
            job[i], f"Title {job[i][-2:]}", coa[i], org[i], ecls[i], college[i],
            uin_pool[(i * 7) % len(uin_pool)], last[i], first[i], f"user{u[-5:]}",
            f"user{u[-5:]}@example.edu", f"{rate[i] / 100:.2f}", f"{FY_END_YEAR}-08-02",
            f"{FY_END_YEAR}-08-01", f"{FY_END_YEAR}-07-31", str(1 + i % 4),
            ("APPROVER", "FYI", "PREPARER")[i % 3], action[i], uin_pool[(i * 11) % len(uin_pool)],
            ("N", "Y")[i % 7 == 0], f"{FY_END_YEAR}-08-01 10:00:00", str(i % 97),
            str(i % 13), str(i % 211),
        ])
    # D4: same UIN Job as an earlier row, other fields differ
    rep = np.flatnonzero(_exact(rng, n, SHARES["cert_uin_job_repeats"], first=1))
    for i, s in zip(rep, _earlier(rng, rep, np.arange(n))):
        rows[i][0], rows[i][10] = rows[s][0], rows[s][10]
    # D3: exact copies of an earlier row
    ex = np.flatnonzero(_exact(rng, n, SHARES["cert_exact_duplicates"], first=1))
    for i, s in zip(ex, _earlier(rng, ex, np.arange(n))):
        rows[i] = list(rows[s])
    return rows


# --------------------------------------------------------------------------
# Lookup dimensions (FIXTURES.md section 3: a few hundred rows at most)
# --------------------------------------------------------------------------

def dim_rows(seed: int, bw: list[list], mn: list[list]) -> dict[str, list[list]]:
    rng = np.random.default_rng([seed, 4])
    ts_org = [[f"{c}-{o}", f"Org {c}{o}"] for c in COAS for o in ORGS[:30]]
    ts_org += [list(r) for r in ts_org[:: 9]]                 # exact duplicates (D1)
    ts_dept = [[f"{c}-{d}", None if (i % 6 == 0) else f"Dept {c}{d}"]
               for c in COAS for i, d in enumerate(DEPTS[:40])]
    # the CPA department key is the 5-char prefix of "C-OOO" -- cover
    # the first 20 orgs so both matched and unmatched prefixes occur
    ts_dept += [[f"{c}-{o}", f"Org-Dept {c}{o}"] for c in COAS for o in ORGS[:20]]
    ts_dept += [list(r) for r in ts_dept[:: 11]]
    flsa = {e: ("Non-Exempt" if i % 2 else "Exempt") for i, e in enumerate(ECLS)}
    overtime = [[e, p, flsa[e], f"{e} {p} long description"] for e in ECLS[:-1] for p in ("BW", "MN")]
    overtime += [list(r) for r in overtime[:3]]
    # te_m: UIN Job rows drawn from the certs (fixed share of BW jobs),
    # tied-mode groups, null TE M / method rows, exact duplicates and a
    # fan-out key (same UIN Job + TE M, differing method).
    jobs = sorted({f"{r[0]}-{r[10]}" for r in bw + mn})
    take = rng.permutation(len(jobs))[: int(round(len(jobs) * SHARES["cert_uin_job_in_te_m"]))]
    take = take[:300]
    methods = {"W": ["Web Time", "Web Time", "Mobile"], "B": ["Banner", "Banner", "Badge"],
               "T": ["Timeclock", "Terminal"], "P": ["Paper", "Phone"]}   # T and P tie
    te_m = []
    for k, j in enumerate(sorted(take)):
        tem = TEM[k % 4]
        te_m.append([jobs[j], tem, methods[tem][k // 4 % len(methods[tem])], ("H", "E")[k % 2]])
    # pin the tie: T and P get equally many rows per method, so the mode
    # falls to the lexicographically smallest method
    for tem in ("T", "P"):
        counts = {m: sum(1 for r in te_m if r[1] == tem and r[2] == m) for m in methods[tem]}
        top = max(counts.values())
        for m, c in counts.items():
            te_m += [[f"000000002-{tem}{m[:2]}{k}-00", tem, m, "H"] for k in range(top - c)]
    te_m += [[f"000000000-U{k}-00", None, "Orphan", "H"] for k in range(3)]
    te_m += [[f"000000001-U{k}-00", "W", None, "H"] for k in range(2)]
    te_m += [list(r) for r in te_m[:5]]
    if te_m:
        te_m.append([te_m[0][0], te_m[0][1], "Fan-out method", "E"])
    feeder = [[f"F{i:02d}", f"Feeder {i}"] for i in range(12)]
    return {"ts_org": ts_org, "ts_dept": ts_dept, "overtime": overtime, "te_m": te_m,
            "feeder": feeder}


# --------------------------------------------------------------------------
# Writers
# --------------------------------------------------------------------------

def write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows([["" if v is None else v for v in r] for r in rows])


def _col(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


NUMERIC_XLSX_COLS = {"DEPT Code", "POSN", "SUFF", "Pay #", "Seq #"}


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """One-sheet workbook: strings go to a shared-string table, numeric-
    looking values of NUMERIC_XLSX_COLS become number cells (the Excel
    float-ification the pipeline repairs), None cells are omitted and ''
    is an empty inline string.  Zip entries carry a fixed timestamp so
    the bytes depend only on the content."""
    shared: dict[str, int] = {}

    def sid(s: str) -> int:
        return shared.setdefault(s, len(shared))

    numeric = [h in NUMERIC_XLSX_COLS for h in header]
    out = []
    for ri, r in enumerate([header] + rows, start=1):
        cells = []
        for ci, v in enumerate(r):
            ref = f"{_col(ci)}{ri}"
            if v is None:
                continue
            if v == "":
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t></t></is></c>')
            elif ri > 1 and numeric[ci] and v.replace(".", "", 1).isdigit():
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sid(v)}</v></c>')
        out.append(f'<row r="{ri}">{"".join(cells)}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet {ns}>'
             f'<sheetData>{"".join(out)}</sheetData></worksheet>')
    sst = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f'<sst {ns} count="{len(shared)}" uniqueCount="{len(shared)}">'
           + "".join(f'<si><t xml:space="preserve">{_esc(s)}</t></si>' for s in shared)
           + "</sst>")
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006"
    ct_main = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts = {
        "[Content_Types].xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="{pkg}/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{ct_main}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{ct_main}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" ContentType="{ct_main}.sharedStrings+xml"/>'
            "</Types>",
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook {ns} xmlns:r="{rel}">'
            '<sheets><sheet name="PUA" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>",
        "xl/sharedStrings.xml": sst,
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, body)


# --------------------------------------------------------------------------
# Registry tables (TPC-H-ish subset the registry mix reads)
# --------------------------------------------------------------------------

# Registry mix: query -> the engine module that does its work.
REGISTRY_MIX = {
    "g8_kcore": "graph",
    "llm_mmr_diversify": "llm.similarity",
    "llm_minhash_lsh_md5": "llm.dedup",
}

WORDS = ("key agg row scan slow fast table value part hash merge batch spark the line sort "
         "window order data column join small customer query big stream filter group vector "
         "a of to in payroll job time entry org dept cert").split()


def registry_tables(seed: int, n_orders: int) -> dict:
    """The tables' shape (graph, texts, vectors) is the same for every
    seed, so every seed costs the same work (k-core peel rounds, LSH
    buckets); the seed relabels every key and shuffles row order."""
    import pyarrow as pa

    rng = np.random.default_rng([0, 5])
    n_cust, n_supp = max(n_orders // 10, 50), max(n_orders // 150, 60)
    okey = np.arange(1, n_orders + 1, dtype=np.int64)
    custkey = rng.integers(1, n_cust + 1, n_orders).astype(np.int64)
    lkey = np.repeat(okey, rng.integers(1, 8, n_orders))
    suppkey = rng.integers(1, n_supp + 1, len(lkey)).astype(np.int64)
    quantity = rng.integers(1, 51, len(lkey)).astype(np.float64)
    n_docs = 500
    texts = []
    for i in range(n_docs):
        if i >= 40 and i % 10 == 0:
            # near-duplicate of an earlier document: a few words swapped
            w = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(w), max(1, len(w) // 15)):
                w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))))
    lang = np.asarray(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, n_docs)]
    n_vec, dim = 500, 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(0, 0.6, (n_vec, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)

    relabel = np.random.default_rng([seed, 5])
    new_okey = relabel.permutation(n_orders).astype(np.int64) + 1
    new_cust = relabel.permutation(n_cust).astype(np.int64) + 1
    new_supp = relabel.permutation(n_supp).astype(np.int64) + 1
    o_rows = relabel.permutation(n_orders)
    l_rows = relabel.permutation(len(lkey))
    d_ids = relabel.permutation(n_docs).astype(np.int64)
    v_ids = relabel.permutation(n_vec).astype(np.int64)
    orders = pa.table({"o_orderkey": new_okey[o_rows], "o_custkey": new_cust[custkey[o_rows] - 1]})
    lineitem = pa.table({
        "l_orderkey": new_okey[lkey[l_rows] - 1],
        "l_suppkey": new_supp[suppkey[l_rows] - 1],
        "l_quantity": quantity[l_rows],
    })
    supplier = pa.table({"s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
                         "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]})
    documents = pa.table({
        "doc_id": d_ids,
        "text": texts,
        "lang": list(lang),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    embeddings = pa.table({
        "vec_id": v_ids,
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return {"orders": orders, "lineitem": lineitem, "supplier": supplier,
            "documents": documents, "embeddings": embeddings}


# --------------------------------------------------------------------------
# Input sets
# --------------------------------------------------------------------------

def build_payroll(out_dir: str, seed: int, n_pua: int, n_cert: int) -> dict:
    """PUA xlsx of n_pua rows, BW + MN cert CSVs of n_cert rows each, and
    the dim CSVs.  Returns {input name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"pua": os.path.join(out_dir, "pua.xlsx")}
    write_xlsx(paths["pua"], PUA_HEADER, pua_rows(seed, n_pua))
    uins = np.array([str(100000000 + x) for x in
                     np.random.default_rng([seed, 6]).choice(899999999, max(n_cert // 3, 10), replace=False)],
                    dtype=object)
    bw = cert_rows(seed, n_cert, "BW", uins)
    mn = cert_rows(seed, n_cert, "MN", uins, [(r[0], r[10]) for r in bw])
    for name, rows in (("cert_bw", bw), ("cert_mn", mn)):
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        write_csv(paths[name], CERT_HEADER, rows)
    for name, rows in dim_rows(seed, bw, mn).items():
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        write_csv(paths[name], DIM_HEADERS[name], rows)
    return paths


def build_registry(out_dir: str, seed: int, n_orders: int) -> dict:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in registry_tables(seed, n_orders).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
