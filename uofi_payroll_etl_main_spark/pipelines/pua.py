"""PUA dataflow (SURVEY.md section 3.2; ref etl_payroll_pipeline.py
:235-380).

Input frames (already loaded; see io/catalog for the source layer):
    pua        -- primary payroll extract
    ts_org     -- org dim  (TS-Org Code, TS-Org Title)
    ts_dept    -- dept dim (TS-Org Dept Code, TS-Org Dept Title)
    overtime   -- e-class dim (Job Eclass, Overtime FLSA, ...)
    te_m       -- time-entry lookup (TE M, Time Entry Method, ...)

Returns (pua_out, report): the 26-column output contract frame and the
structured run report.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import expressions as E
from ..dedup import INGEST_ORDER_COL, dedup_keys_tolerant
from ..joins import safe_merge_left
from ..report import RunReport
from .common import fill_time_entry, ingest_order

# Ref :330-357 -- the 26-column PUA output contract (dst -> src), with
# the final renames of :375-380 applied to the dst names.
PUA_COL_MAP = OrderedDict(
    [
        ("UIN", "UIN"),
        ("Pay ID", "Pay ID"),
        ("Year", "Year"),
        ("Pay #", "Pay #"),
        ("Seq #", "Seq #"),
        ("Job Number", "Job Number"),
        ("College Code", "College Code"),
        ("College Name", "College Name"),
        ("College", "College"),
        ("TS COA", "TS COA"),
        ("TS ORG", "TS ORG"),
        ("TS-Org Code", "TS-Org Code"),
        ("TS-Org Title", "TS-Org Title"),
        ("Dept Code", "DEPT Code"),
        ("TS-Org Dept Code", "TS-Org Dept Code"),
        ("TS-Org Dept Title", "TS-Org Dept Title"),
        ("E-Class Code", "ECLS"),
        ("E-Class", "ECLS DESC"),
        ("TE M", "TE M"),
        ("Time Entry", "Time Entry"),
        ("Overtime", "Overtime"),
        ("Earn Code", "Earn Code"),
        ("Earn Code Description", "DESCRIPTION"),
        ("Adjustment Reason Code", "ADJ Reason Code"),
        ("Adjustment Reason Description", "ADJ Reason DESC"),
        ("Calc Date", "Calc Date"),
    ]
)

# Ref :301-312 -- projection before dedup.
SOURCE_FIELDS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College",
    "TS COA", "TS ORG", "TS-Org Code", "TS-Org Title",
    "DEPT Code", "TS-Org Dept Code", "TS-Org Department Code", "TS-Org Dept Title",
    "ECLS", "ECLS DESC", "E-Class", "TE M", "Time Entry", "Overtime",
    "Earn Code", "DESCRIPTION", "ADJ Reason Code", "ADJ Reason DESC",
    "Calc Date", "Pay Event", "POSN", "SUFF",
]

RENAME_NORMALIZE = {
    "ADj Reason Code": "ADJ Reason Code",
    "Adj Reason Code": "ADJ Reason Code",
    "Adj Reason": "ADJ Reason DESC",
}

# Ref :210-223, :238-254 -- E2 string cast + trim and E3 Excel-float
# repair of the source columns the derived keys read.
NORMALIZE = {
    **dict.fromkeys(
        ["TS COA", "TS ORG", "Department Name", "Year", "Pay ID", "Pay #", "Seq #",
         "College Code", "College Name"],
        E.ensure_string,
    ),
    **dict.fromkeys(["DEPT Code", "POSN", "SUFF"], E.strip_decimal_str),
}


def run_pua(
    pua: DataFrame,
    ts_org: DataFrame,
    ts_dept: DataFrame,
    overtime: DataFrame,
    te_m: DataFrame,
    report: RunReport | None = None,
) -> tuple[DataFrame, RunReport]:
    report = report or RunReport()

    # E1 header trim, header typo unification (ref :205-207, :256-261),
    # E2/E3 normalisation and the keep-first order column, in one
    # projection straight over the source.
    order = ingest_order(pua, report, "run_pua")
    raw = [c for c in pua.columns if c != INGEST_ORDER_COL]
    names = E.renamed([c.strip() for c in raw], RENAME_NORMALIZE)
    df = pua.select(
        *[NORMALIZE.get(n, F.col)(c).alias(n) for c, n in zip(raw, names)],
        order.alias(INGEST_ORDER_COL),
    )

    # Derived keys (ref :238-254) over the normalised columns; F.concat
    # null-propagates like pandas `+`.
    df = df.withColumns({
        "TS-Org Code": E.concat_key("TS COA", "TS ORG"),
        "TS-Org Department Code": E.concat_key("TS COA", "DEPT Code"),
        "E-Class": E.ensure_string("ECLS DESC"),
        "Pay Event": E.concat_plain("Year", "Pay ID", "Pay #", "Seq #"),
        "Job Number": E.concat_key("POSN", "SUFF"),
        "College": E.concat_key("College Code", "College Name"),
    })

    # J1 org, J2 dept (differing key names), J3 overtime, then the
    # time-entry fill (ref :263-299).
    df = safe_merge_left(df, ts_org, "TS-Org Code", keep_cols=["TS-Org Code", "TS-Org Title"])
    df = safe_merge_left(
        df,
        ts_dept,
        {"TS-Org Department Code": "TS-Org Dept Code"},
        keep_cols=["TS-Org Dept Code", "TS-Org Dept Title"],
    )
    df = safe_merge_left(
        df,
        overtime,
        {"ECLS": "Job Eclass"},
        keep_cols=["Job Eclass", "Overtime FLSA"],
        rename={"Overtime FLSA": "Overtime"},
        drop_dim_keys=True,
    )
    df = fill_time_entry(df, te_m)

    # P8 projection, carrying J2's title coalesce (ref :273-274,
    # :301-312) -> D2 keyed dedup (deterministic keep-first via ingest
    # order; ref :314-317).
    dept_title = E.coalesce_cols("TS-Org Dept Title", "Department Name").alias("TS-Org Dept Title")
    present = [c for c in SOURCE_FIELDS if c in df.columns]
    df = df.select(*[dept_title if c == "TS-Org Dept Title" else c for c in present], INGEST_ORDER_COL)
    for k in ("UIN", "Pay Event", "Job Number"):
        if k not in df.columns:
            report.warn(f"missing key for dedupe: {k}")
    df = dedup_keys_tolerant(df, ["UIN", "Pay Event", "Job Number"], order_col=INGEST_ORDER_COL)

    # E16 type normalization + E11 ADJ default (ref :319-328).  The
    # default reads the E16 expressions of BOTH columns in the same
    # projection: setting the code first would make the desc's
    # blankish-test see 'INT' and never fire (ref :324-328 sets the pair
    # from the original value).
    fin = {
        c: E.to_ts_coerce(c) if c == "Calc Date" else E.ensure_string(c)
        for c in df.columns
        if c != INGEST_ORDER_COL
    }
    if "ADJ Reason Code" in fin and "ADJ Reason DESC" in fin:
        fin["ADJ Reason Code"], fin["ADJ Reason DESC"] = E.null_blank_default(
            fin["ADJ Reason Code"], fin["ADJ Reason DESC"]
        )
    df = df.select(*[col.alias(c) for c, col in fin.items()])

    # E15 output contract with null padding -> final strip/cast (ref
    # :330-374).
    out, padded = E.output_contract(df, PUA_COL_MAP)
    if padded:
        report.missing_output_sources["pua"] = padded
    return E.finalize_output(out, date_cols=["Calc Date"]), report
