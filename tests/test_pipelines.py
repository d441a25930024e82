"""End-to-end PUA (SURVEY.md section 3.2) and CPA (section 3.3) pipeline
tests on FIXTURES.md-style synthetic inputs, exercising every section 5.3
edge case: Excel float codes, typo headers, nan-string defaulting, mode
tie-break, keep-first winners, FY boundary, hyphen-less COLLEGE."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from uofi_payroll_etl_main_spark.pipelines.cpa import CPA_OUTPUT_COLUMNS, run_cpa
from uofi_payroll_etl_main_spark.pipelines.pua import run_pua


@pytest.fixture(scope="module")
def dims(spark):
    ts_org = spark.createDataFrame(
        [Row(**{"TS-Org Code": "1-602", "TS-Org Title": "Physics"}),
         Row(**{"TS-Org Code": "1-603", "TS-Org Title": "Math"})]
    )
    ts_dept = spark.createDataFrame(
        [Row(**{"TS-Org Dept Code": "1-123", "TS-Org Dept Title": "Engineering Dept"})]
    )
    overtime = spark.createDataFrame(
        [Row(**{"Job Eclass": "EA", "Pay ID": "BW", "Overtime FLSA": "Non-Exempt",
                "Job Detail E-Class Long Desc": "Academic"}),
         Row(**{"Job Eclass": "EB", "Pay ID": "MN", "Overtime FLSA": "Exempt",
                "Job Detail E-Class Long Desc": "Monthly"})]
    )
    te_m = spark.createDataFrame(
        [Row(**{"UIN Job": "111111111-U10000-00", "TE M": "W", "Time Entry Method": "Web Time",
                "Time Entry Type": "Clock"}),
         Row(**{"UIN Job": "x", "TE M": "W", "Time Entry Method": "Web Time",
                "Time Entry Type": "Clock"}),
         Row(**{"UIN Job": "y", "TE M": "B", "Time Entry Method": "Banner",
                "Time Entry Type": "Batch"})]
    )
    return ts_org, ts_dept, overtime, te_m


def _pua_row(**over):
    base = {
        "UIN": "111111111", "Year": "2025", "Pay ID": "BW", "Pay #": "14", "Seq #": "0",
        "TS COA": "1", "TS ORG": "602", "DEPT Code": "123.0", "Department Name": "Fallback Dept",
        "ECLS": "EA", "ECLS DESC": "Acad", "TE M": "W", "Time Entry": "",
        "POSN": "U10000", "SUFF": "0.0", "College Code": "KV", "College Name": "Engineering",
        "Earn Code": "RGS", "DESCRIPTION": "Regular", "ADj Reason Code": "nan",
        "ADJ Reason DESC": "x", "Calc Date": "2025-01-15",
    }
    base.update(over)
    return Row(**base)


@pytest.fixture(scope="module")
def pua_out(spark, dims):
    ts_org, ts_dept, overtime, te_m = dims
    pua = spark.createDataFrame(
        [
            _pua_row(),
            _pua_row(),  # exact dup of the business key -> D2 collapses
            _pua_row(UIN="222222222", **{"TS ORG": "603", "ADj Reason Code": "RET",
                                         "ADJ Reason DESC": "Retro", "Calc Date": "garbage"}),
        ]
    )
    out, report = run_pua(pua, ts_org, ts_dept, overtime, te_m)
    return out.orderBy("UIN").collect(), out.columns, report


def test_pua_output_contract_columns(pua_out):
    _, cols, _ = pua_out
    assert len(cols) == 26
    assert cols[:6] == ["UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number"]
    assert "TS ORG" in cols  # FINAL_RENAMES applied
    assert "Adjustment Reason Description" in cols


def test_pua_dedup_and_derived_keys(pua_out):
    got, _, _ = pua_out
    assert len(got) == 2  # business-key dedup collapsed the repeat
    r = got[0]
    assert r["Job Number"] == "U10000-0"          # POSN-SUFF with .0 repair
    assert r["TS-Org Code"] == "1-602"
    assert r["Dept Code"] == "123"                # strip_decimal_str
    assert r["College"] == "KV-Engineering"


def test_pua_join_enrichment(pua_out):
    got, _, _ = pua_out
    by_uin = {r["UIN"]: r for r in got}
    assert by_uin["111111111"]["TS-Org Title"] == "Physics"
    assert by_uin["222222222"]["TS-Org Title"] == "Math"
    assert by_uin["111111111"]["TS-Org Dept Code"] == "1-123"
    assert by_uin["111111111"]["TS-Org Dept Title"] == "Engineering Dept"
    assert by_uin["111111111"]["Overtime"] == "Non-Exempt"


def test_pua_time_entry_mode_fill(pua_out):
    got, _, _ = pua_out
    # Time Entry was '' -> filled from the TE M mode map ('W' -> Web Time)
    assert all(r["Time Entry"] == "Web Time" for r in got)


def test_pua_adj_reason_default(pua_out):
    got, _, _ = pua_out
    by_uin = {r["UIN"]: r for r in got}
    # 'nan' string -> INT/Internal default (ref :324-328)
    assert by_uin["111111111"]["Adjustment Reason Code"] == "INT"
    assert by_uin["111111111"]["Adjustment Reason Description"] == "Internal"
    # real code kept
    assert by_uin["222222222"]["Adjustment Reason Code"] == "RET"


def test_pua_calc_date_coerce(pua_out):
    got, _, _ = pua_out
    by_uin = {r["UIN"]: r for r in got}
    assert by_uin["111111111"]["Calc Date"] is not None
    assert by_uin["222222222"]["Calc Date"] is None  # "garbage" coerced


# ---------- CPA ----------

CERT_COLS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT",
    "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE",
    "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE", "OWNING_UIN", "LAST_NAME",
    "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT",
    "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION", "ROUTED_BY_UIN",
    "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME", "ROUTE_STOP_TIME",
    "ELAPSED_TRAN_TIME",
]


CERT_SCHEMA = ", ".join(f"`{c}` string" for c in CERT_COLS)


def _cert_row(**over):
    base = {c: None for c in CERT_COLS}
    base.update(
        UIN="111111111", PAY_YEAR="2025", PAY_ID="BW", PAY_NBR="14", PAY_SEQ="0",
        TRAN_CREATE_DT="2024-09-15 10:00:00", JOB="U10000-00", JOB_TITLE="RA",
        JOB_TS_COAS="1", JOB_TS_ORGN="602", JOB_ECLS="EA",
        COLLEGE="KV-Engineering", ACTION="3 - Apply",
    )
    base.update(over)
    return Row(**{c: base[c] for c in CERT_COLS})


@pytest.fixture(scope="module")
def cpa_out(spark, dims):
    ts_org, ts_dept, overtime, te_m = dims
    bw = spark.createDataFrame(
        [
            _cert_row(LVL="bw-first"),
            _cert_row(LVL="bw-first"),                        # D3: exact dup collapses
            _cert_row(UIN="333333333", COLLEGE="NOHYPHEN",    # E7 guard
                      ACTION="3 - Apply", LVL="keep"),
            _cert_row(UIN="444444444", ACTION="1 - Review",   # P7 filter drops
                      LVL="drop-action"),
            _cert_row(UIN="555555555",                        # P6 filter drops (outside FY25)
                      TRAN_CREATE_DT="2023-01-01 00:00:00", LVL="drop-date"),
            _cert_row(UIN="666666666",                        # E8 coerce -> null -> dropped
                      TRAN_CREATE_DT="not a date", LVL="drop-coerce"),
        ],
        CERT_SCHEMA,
    )
    mn = spark.createDataFrame(
        [_cert_row(PAY_ID="MN", LVL="mn-later")],  # same UIN Job as bw-first: D4 keeps BW row
        CERT_SCHEMA,
    )
    out, report = run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    return out.collect(), out.columns, report


def test_cpa_output_columns(cpa_out):
    _, cols, _ = cpa_out
    assert cols == CPA_OUTPUT_COLUMNS


def test_cpa_filters_and_dedup(cpa_out):
    got, _, _ = cpa_out
    uins = sorted(r["UIN"] for r in got)
    # 111111111 once (D3+D4), 333333333 kept; ACTION/date/coerce rows gone
    assert uins == ["111111111", "333333333"]


def test_cpa_keep_first_prefers_bw_source(cpa_out):
    got, _, _ = cpa_out
    r = {x["UIN"]: x for x in got}["111111111"]
    # BW row (src=0) beats the MN row (src=1) for the same UIN Job
    assert r["Pay ID"] == "BW"


def test_cpa_enrichment_and_split(cpa_out):
    got, _, _ = cpa_out
    by_uin = {r["UIN"]: r for r in got}
    r = by_uin["111111111"]
    assert r["TS-Org Code"] == "1-602"
    assert r["TS-Org Title"] == "Physics"       # renamed TS-Org Name -> output contract
    assert r["College Code"] == "KV"
    assert r["College Name"] == "Engineering"
    assert r["Overtime"] == "Non-Exempt"        # composite-key join hit
    assert r["Time Entry"] == "Web Time"        # J7 row join / mode fill
    g = by_uin["333333333"]
    assert g["College Code"] == "NOHYPHEN" and g["College Name"] == ""


def test_cpa_schema_check_warns_on_contract(spark, dims, cpa_out):
    ts_org, ts_dept, overtime, te_m = dims
    # conforming input -> schema_ok recorded True
    _, _, good_report = cpa_out
    assert good_report.schema_ok.get("cpa_cert") is True
    # extra column -> ordered-contract mismatch -> warn-only (run still succeeds)
    extra = spark.createDataFrame(
        [Row(**{**_cert_row().asDict(), "EXTRA": "x"})], CERT_SCHEMA + ", `EXTRA` string"
    )
    out, report = run_cpa(extra, extra, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    assert report.schema_ok.get("cpa_cert") is False
    assert any("cpa_cert" in w for w in report.warnings)
    assert out.columns == CPA_OUTPUT_COLUMNS


def test_pua_caller_supplied_ingest_order(spark, dims):
    """Pass-through contract: a pre-set __ingest_order drives keep-first,
    independent of physical row order, and string-typed orders are cast
    to long (lexicographic '10' < '2' must NOT decide the winner)."""
    ts_org, ts_dept, overtime, te_m = dims
    rows = [
        # physical order puts the high-order row FIRST; supplied order
        # says it is last -> the "2"-order row must win.  String order
        # would pick "10" < "2" (wrong).
        Row(**{**_pua_row(**{"Time Entry": "TenthRow"}).asDict(), "__ingest_order": "10"}),
        Row(**{**_pua_row(**{"Time Entry": "SecondRow"}).asDict(), "__ingest_order": "2"}),
    ]
    pua = spark.createDataFrame(rows)
    out, report = run_pua(pua, ts_org, ts_dept, overtime, te_m)
    got = out.collect()
    assert len(got) == 1
    assert got[0]["Time Entry"] == "SecondRow"
    assert any("caller-supplied __ingest_order" in w for w in report.warnings)


def test_cpa_caller_supplied_ingest_order(spark, dims):
    """Both cert sources carry explicit orders; within a source the
    numeric (not lexicographic) order picks the keep-first winner, and
    BW still beats MN for the same key."""
    ts_org, ts_dept, overtime, te_m = dims
    def cert(order, college):
        return Row(**{**_cert_row().asDict(), "COLLEGE": college, "__ingest_order": order})
    schema = CERT_SCHEMA + ", `__ingest_order` string"
    bw = spark.createDataFrame([cert("10", "KV-Late"), cert("2", "KV-Early")], schema)
    mn = spark.createDataFrame([cert("1", "KV-MnFirst")], schema)
    out, report = run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    got = out.collect()
    assert len(got) == 1
    # winner is the bw source (src 0) row with NUMERIC order 2 (string
    # order would pick '10' < '2'); mn (src 1) loses despite order 1
    assert got[0]["Pay ID"] == "BW"
    assert got[0]["College Name"] == "Early"
    assert any("caller-supplied __ingest_order" in w for w in report.warnings)


def _jobs_by_group(spark, build, monkeypatch):
    """Run `build` and return {"build": n, "guard": n}: the Spark jobs it
    started outside and inside `safe_merge_left` (which run_pua calls
    through its own module's name).  Labels only; no behaviour changes."""
    import uuid

    import uofi_payroll_etl_main_spark.pipelines.pua as pua_mod
    from uofi_payroll_etl_main_spark.joins import safe_merge_left as real

    sc = spark.sparkContext
    groups = {name: f"{name}-{uuid.uuid4().hex}" for name in ("build", "guard")}

    def labelled(*args, **kwargs):
        sc.setJobGroup(groups["guard"], "guard")
        try:
            return real(*args, **kwargs)
        finally:
            sc.setJobGroup(groups["build"], "build")

    monkeypatch.setattr(pua_mod, "safe_merge_left", labelled)
    sc.setJobGroup(groups["build"], "build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {name: len(sc.statusTracker().getJobIdsForGroup(g)) for name, g in groups.items()}


def test_build_phase_jobs(spark, dims, monkeypatch, tmp_path):
    """Building the plans starts no Spark job, except run_pua's eager
    dimension-uniqueness guards -- so every job of a run rides the sink's
    action, and a new eager job in the build shows up here.  The dims
    are file-backed: over in-memory rows a guard runs without a job."""
    for i, dim in enumerate(dims):
        dim.write.parquet(str(tmp_path / f"dim{i}"))
    ts_org, ts_dept, overtime, te_m = (spark.read.parquet(str(tmp_path / f"dim{i}")) for i in range(4))
    pua = spark.createDataFrame([_pua_row()])
    cert = spark.createDataFrame([_cert_row()], CERT_SCHEMA)

    jobs = _jobs_by_group(
        spark, lambda: run_cpa(cert, cert, ts_org, ts_dept, overtime, te_m, fy_end_year=2025),
        monkeypatch,
    )
    assert jobs == {"build": 0, "guard": 0}
    jobs = _jobs_by_group(spark, lambda: run_pua(pua, ts_org, ts_dept, overtime, te_m), monkeypatch)
    assert jobs["build"] == 0 and jobs["guard"] >= 3, jobs
