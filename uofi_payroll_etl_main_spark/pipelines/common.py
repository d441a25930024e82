"""Steps both dataflows share: the keep-first order column of a source
and the time-entry mode fill."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import expressions as E
from ..aggregates import mode_agg
from ..dedup import INGEST_ORDER_COL
from ..joins import dict_map_join
from ..report import RunReport


def ingest_order(src: DataFrame, report: RunReport, pipeline: str) -> Column:
    """The keep-first order of `src`'s rows, as a long.

    A source that already carries INGEST_ORDER_COL supplies its own
    explicit row order (the gate queries derive one from a data column
    so Spark and the DuckDB oracle agree exactly).  It is cast to long:
    a string-typed order would sort lexicographically ('10' < '2') and
    silently flip keep-first winners.  Otherwise the physical read order
    (dedup.with_ingest_order), which is only meaningful in a projection
    straight over the source, before any shuffle.
    """
    if INGEST_ORDER_COL in src.columns:
        report.warn(f"{pipeline}: using caller-supplied __ingest_order as dedup order")
        return F.col(INGEST_ORDER_COL).cast("long")
    return F.monotonically_increasing_id()


def fill_time_entry(df: DataFrame, te_m: DataFrame) -> DataFrame:
    """A1 mode lookup + J9 dict-map join + E10 fill (ref :282-299,
    :517-533): a blank `Time Entry` takes the most frequent `Time Entry
    Method` of its `TE M`.  `TE M` and `Time Entry` are trimmed strings
    afterwards; an absent `Time Entry` starts all-null (E12)."""
    te = te_m.select(
        E.ensure_string("TE M").alias("TE M"),
        E.ensure_string("Time Entry Method").alias("Time Entry Method"),
    ).filter(F.col("TE M").isNotNull() & F.col("Time Entry Method").isNotNull())
    te_map = mode_agg(te, "TE M", "Time Entry Method", out_col="__mapped_te")
    entry = E.ensure_string("Time Entry") if "Time Entry" in df.columns else F.lit(None).cast("string")
    df = dict_map_join(
        df.withColumns({"TE M": E.ensure_string("TE M"), "Time Entry": entry}), te_map, "TE M", "__mapped_te"
    )
    filled = E.keep_or_replace("Time Entry", "__mapped_te").alias("Time Entry")
    return df.select(*[filled if c == "Time Entry" else c for c in df.columns if c != "__mapped_te"])
