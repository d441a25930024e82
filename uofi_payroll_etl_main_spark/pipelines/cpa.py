"""CPA dataflow (SURVEY.md section 3.3; ref etl_payroll_pipeline.py
:433-591).

Input frames: cert_bw + cert_mn (certification extracts, same schema),
plus the ts_org / ts_dept / overtime / te_m dims.  Returns
(cpa_out, report): the 20-column contract frame and the run report.

Fiscal year is a PARAMETER (fy_end_year) rather than datetime.today()
(ref :444-447) so runs are reproducible; callers default it to the
current year for reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import expressions as E
from ..dedup import INGEST_ORDER_COL, keep_first
from ..joins import broadcast_left_join
from ..predicates import between_dates, fiscal_year_bounds
from ..report import RunReport, check_schema
from ..setops import union_by_name
from .common import fill_time_entry, ingest_order

# Ref :458-464 -- expected certification schema (V2 check, warn-only).
EXPECTED_CERT_COLUMNS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT", "ADJ_REASON",
    "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN",
    "JOB_ECLS", "COLLEGE", "OWNING_UIN", "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID",
    "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE",
    "ACTION", "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME",
    "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME",
]

# Ref :563-584 -- bulk rename to output vocabulary.
CPA_RENAMES = {
    "PAY_ID": "Pay ID",
    "PAY_YEAR": "Year",
    "PAY_NBR": "Pay #",
    "PAY_SEQ": "Seq #",
    "JOB": "Job Number",
    "COLLEGE": "College",
    "JOB_TS_COAS": "TS COA",
    "JOB_TS_ORGN": "TS Org",
    "TS-Org Name": "TS-Org Title",
    "TS-Org Department Name": "TS-Org Dept Title",
    "JOB_ECLS": "E-Class Code",
    "E-Class Description": "E-Class",
    "Overtime FLSA": "Overtime",
}

# Ref :586-589 -- the 20-column output selection.
CPA_OUTPUT_COLUMNS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number", "College Code",
    "College Name", "College", "TS COA", "TS Org", "TS-Org Code",
    "TS-Org Title", "TS-Org Dept Code", "TS-Org Dept Title", "E-Class Code",
    "E-Class", "TE M", "Time Entry", "Overtime",
]


def run_cpa(
    cert_bw: DataFrame,
    cert_mn: DataFrame,
    ts_org: DataFrame,
    ts_dept: DataFrame,
    overtime: DataFrame,
    te_m: DataFrame,
    fy_end_year: int,
    report: RunReport | None = None,
) -> tuple[DataFrame, RunReport]:
    report = report or RunReport()

    # E1 header trim -> U1 union-by-name (ref :433-436).  Ingest order is
    # captured per-source BEFORE the union so keep-first dedup later
    # reproduces "BW file rows precede MN file rows" exactly: the order
    # is struct<src:int,row:long>, the same type on both union sides.
    def _source(frame: DataFrame, src_idx: int) -> DataFrame:
        order = F.struct(F.lit(src_idx).alias("src"), ingest_order(frame, report, "run_cpa").alias("row"))
        return frame.select(
            *[F.col(c).alias(c.strip()) for c in frame.columns if c != INGEST_ORDER_COL],
            order.alias(INGEST_ORDER_COL),
        )

    df = union_by_name(_source(cert_bw, 0), _source(cert_mn, 1))

    # V2 schema contract check, warn-only (ref :457-471).
    check_schema(df.drop(INGEST_ORDER_COL), EXPECTED_CERT_COLUMNS, report, "cpa_cert")

    # E14 whole-frame strip, E8 coerce parse and E4/E6 derived keys in one
    # projection (ref :438, :473-482), then the P6 fiscal-year filter
    # (ref :443-452).  The E14 strip covers the derived prefix too; the
    # struct-typed order column passes through untouched.
    ts_org_code = E.concat_key(E.ensure_string("JOB_TS_COAS"), E.ensure_string("JOB_TS_ORGN"))
    df = df.withColumns({
        **E.stripped_strings(df),
        "TRAN_CREATE_DT": E.to_ts_coerce("TRAN_CREATE_DT"),
        "JOB_ECLS": E.ensure_string("JOB_ECLS"),
        "PAY_ID": E.ensure_string("PAY_ID"),
        "TS-Org Code": ts_org_code,
        "Dept TS-Org": E.ws_trim(E.prefix(ts_org_code, 5)),
        "UIN Job": E.concat_key(E.ensure_string("UIN"), E.ensure_string("JOB")),
    }).filter(between_dates("TRAN_CREATE_DT", *fiscal_year_bounds(fy_end_year)))

    # J5 org (rename -> TS-Org Name), J6 dept on the 5-char prefix key,
    # J7 time-entry row join (ref :487-515), then the time-entry fill.
    df = broadcast_left_join(
        df, ts_org, "TS-Org Code", keep_cols=["TS-Org Code", "TS-Org Title"],
        rename={"TS-Org Title": "TS-Org Name"},
    )
    df = broadcast_left_join(
        df, ts_dept, {"Dept TS-Org": "TS-Org Dept Code"},
        keep_cols=["TS-Org Dept Code", "TS-Org Dept Title"],
        rename={"TS-Org Dept Title": "TS-Org Department Name"},
    )
    df = broadcast_left_join(
        df, te_m, "UIN Job",
        keep_cols=["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"],
    )
    df = fill_time_entry(df, te_m)

    # J8 composite-key overtime join (ref :535-543).  Dim-side keys are
    # dropped post-join: the reference instead lets a duplicate 'Pay ID'
    # arise and drops the second occurrence at :591 -- same result.
    ot = overtime.withColumns(
        {"Job Eclass": E.ensure_string("Job Eclass"), "Pay ID": E.ensure_string("Pay ID")}
    )
    df = broadcast_left_join(
        df, ot, {"JOB_ECLS": "Job Eclass", "PAY_ID": "Pay ID"},
        keep_cols=["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
        rename={"Job Detail E-Class Long Desc": "E-Class Description"},
        drop_dim_keys=True,
    )

    # P7 ACTION filter -> D3 full dedup -> D4 keep-first by UIN Job
    # (ref :545-547).
    df = df.filter(F.col("ACTION") == "3 - Apply")
    # D3 must ignore the order column (identical rows from different
    # positions ARE duplicates): group by every data column, keep the
    # earliest position -- exactly pandas drop_duplicates() keep-first.
    data_cols = [c for c in df.columns if c != INGEST_ORDER_COL]
    df = df.groupBy(*[F.col(c) for c in data_cols]).agg(
        F.min(INGEST_ORDER_COL).alias(INGEST_ORDER_COL)
    )
    df = keep_first(df, ["UIN Job"], F.col(INGEST_ORDER_COL))

    # E7 college split with no-hyphen guard (ref :549-560), E13 bulk
    # rename and P8 20-col select (ref :563-591), in one projection.
    cols = {n: F.col(c) for c, n in zip(data_cols, E.renamed(data_cols, CPA_RENAMES))}
    cols["College Code"], cols["College Name"] = E.split_first("COLLEGE")
    return df.select(*[cols[c].alias(c) for c in CPA_OUTPUT_COLUMNS if c in cols]), report
