"""Scalar expression library (SURVEY.md section 2.6, E1-E16).

Every helper is a pure ``Column -> Column`` (or ``DataFrame -> DataFrame``
for whole-frame passes) built from native Catalyst expressions -- no
Python UDFs.  That keeps the whole layer inside whole-stage codegen, so
at 100 TB these run at vectorized-scan speed and never serialize rows to
Python.

Reference parity notes (file:line cites into
/root/reference/etl_payroll_pipeline.py):
  * E2  ensure_string        :220-223
  * E3  strip_decimal_str    :210-212
  * E4  concat_key           :239-254, :473, :482  (pandas `+` null-
        propagates -> use F.concat, NOT concat_ws; SURVEY.md 7.4.3)
  * E7  split_first          :550-560 (split on FIRST delimiter, guard
        when absent -> second part '')
  * E8  to_ts_coerce         :322, :438 (errors='coerce' -> null)
  * E11 null_blank_default   :324-328 ('' / 'nan' / 'NaN' / null unified)
  * E14 strip_all_strings    :476-478 (nulls STAY null in Spark; the
        reference's astype(str) NaN->"nan" round-trip is emulated at the
        predicate level, see `is_blankish`)
  * E15 output_contract      :330-368 (missing source -> all-null column)

All functions are ANSI-safe (try_* variants) so they behave identically
under a session with spark.sql.ansi.enabled in either state.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "clean_headers",
    "ensure_string",
    "strip_decimal_str",
    "concat_key",
    "concat_plain",
    "prefix",
    "split_first",
    "to_ts_coerce",
    "coalesce_cols",
    "keep_or_replace",
    "is_blankish",
    "null_blank_default",
    "ensure_column",
    "renamed",
    "rename_columns",
    "stripped_strings",
    "strip_all_strings",
    "output_contract",
    "finalize_output",
    "ws_trim",
    "epoch_micros",
    "epoch_seconds",
    "pseudonymize",
    "mask_shape",
]

_STRINGY = (T.StringType, T.VarcharType, T.CharType)

# pandas .str.strip() removes ALL Unicode whitespace; Spark F.trim only
# removes ASCII spaces.  Every reference trim goes through ws_trim for
# parity (property-tested in tests/test_properties.py).  The set below
# is every char Python str.strip() treats as whitespace -- NBSP and the
# typographic spaces show up in real Excel exports.
_WS = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0"
    "\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def ws_trim(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.btrim(c, F.lit(_WS))


def epoch_micros(col: Column | str) -> Column:
    """Microseconds since the epoch, robust to the column's timestamp
    flavor.  Parquet written without a UTC flag surfaces as
    TIMESTAMP_NTZ in Spark 4, where ``F.unix_micros`` and a direct
    numeric cast are both analysis errors; a ``cast("timestamp")``
    first reinterprets the wall-clock value under the session zone
    (UTC everywhere in this engine) so the epoch value is identical for
    either flavor.  Every event-time operator MUST go through this (or
    `epoch_seconds`) instead of touching `unix_micros`/`cast("long")`
    directly -- the r3 j14/w_rolling regressions were exactly that.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def epoch_seconds(col: Column | str) -> Column:
    """Whole seconds since the epoch (see `epoch_micros` for why the
    intermediate timestamp cast is load-bearing)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def clean_headers(df: DataFrame) -> DataFrame:
    """E1 -- trim whitespace off every column name (ref :205-207, :433-434).

    Pure metadata rename: zero-cost in the physical plan.
    """
    return df.toDF(*[c.strip() for c in df.columns])


def ensure_string(col: Column | str) -> Column:
    """E2 -- cast to string and trim (ref `ensure_string` :220-223).

    Nulls stay null (Spark cast never materializes 'nan'); blank-as-missing
    unification happens in `is_blankish`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return ws_trim(c.try_cast("string"))


def strip_decimal_str(col: Column | str) -> Column:
    """E3 -- repair Excel float-ification of code columns: '123.0' -> '123'
    (ref `strip_decimal_str` :210-212)."""
    return F.regexp_replace(ensure_string(col), r"\.0$", "")


def concat_key(*cols: Column | str, sep: str = "-") -> Column:
    """E4 -- derived-key concat with separator, **null-propagating** like
    pandas `a + '-' + b` (ref :239, :242, :251, :254, :473, :482).

    Deliberately F.concat (null if ANY side null), not concat_ws (which
    skips nulls) -- join/dedup keys must go missing when a component is
    missing, or rows that the reference drops would pair up here.
    """
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(sep))
        parts.append(F.col(c) if isinstance(c, str) else c)
    return F.concat(*parts)


def concat_plain(*cols: Column | str) -> Column:
    """E5 -- separator-less concat (ref `Pay Event` :246-247)."""
    return F.concat(*[F.col(c) if isinstance(c, str) else c for c in cols])


def prefix(col: Column | str, n: int) -> Column:
    """E6 -- leading-n-characters projection (ref `Dept TS-Org` :474)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 1, n)


def split_first(col: Column | str, delim: str = "-") -> tuple[Column, Column]:
    """E7 -- split on the FIRST occurrence of `delim` only; when absent the
    second part is '' (ref COLLEGE split :550-560).

    Returns (head, tail) columns.  Uses instr/substr rather than
    F.split so multi-delimiter values keep everything after the first
    delimiter in the tail, exactly like pandas ``split(delim, n=1)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    pos = F.instr(c, delim)
    head = F.when(pos > 0, ws_trim(c.substr(F.lit(1), pos - 1))).otherwise(ws_trim(c))
    tail = F.when(pos > 0, ws_trim(c.substr(pos + 1, F.length(c)))).otherwise(F.lit(""))
    return head, tail


def to_ts_coerce(col: Column | str) -> Column:
    """E8 -- datetime parse with coerce-to-null (ref
    `pd.to_datetime(errors='coerce')` :322, :438).  try_to_timestamp is
    null-on-failure even under ANSI sessions."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c.try_cast("string"))


def coalesce_cols(*cols: Column | str) -> Column:
    """E9 -- first non-null across columns (ref fillna :273-274)."""
    return F.coalesce(*[F.col(c) if isinstance(c, str) else c for c in cols])


def keep_or_replace(col: Column | str, replacement: Column | str) -> Column:
    """E10 -- keep existing value where non-null and non-blank, else the
    replacement (ref Time Entry fill :296-299, :524-533)."""
    c = F.col(col) if isinstance(col, str) else col
    r = F.col(replacement) if isinstance(replacement, str) else replacement
    return F.when(c.isNotNull() & (ws_trim(c) != ""), c).otherwise(r)


def is_blankish(col: Column | str) -> Column:
    """Unified missing test: null OR trims to ''/'nan'/'NaN' (ref :325).

    The reference round-trips NaN through astype(str) into the literal
    string 'nan' and pattern-matches it back; Spark keeps nulls null, so
    the *intent* (missing) is tested directly (SURVEY.md 7.4.2).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | ws_trim(c.try_cast("string")).isin("", "nan", "NaN")


def null_blank_default(
    code_col: Column | str,
    desc_col: Column | str,
    default_code: str = "INT",
    default_desc: str = "Internal",
) -> tuple[Column, Column]:
    """E11 -- where the code is missing/blank, set the (code, desc) pair to
    defaults (ref ADJ Reason default :324-328)."""
    code = F.col(code_col) if isinstance(code_col, str) else code_col
    desc = F.col(desc_col) if isinstance(desc_col, str) else desc_col
    cond = is_blankish(code)
    return (
        F.when(cond, F.lit(default_code)).otherwise(code),
        F.when(cond, F.lit(default_desc)).otherwise(desc),
    )


def ensure_column(df: DataFrame, name: str, dtype: str = "string") -> DataFrame:
    """E12 -- synthesize an all-null column when absent (ref
    ``df.get('Time Entry', all-NA)`` :293)."""
    if name in df.columns:
        return df
    return df.withColumn(name, F.lit(None).cast(dtype))


def renamed(columns: Sequence[str], mapping: Mapping[str, str]) -> list[str]:
    """E13 -- the column names after a bulk rename, tolerant of absent
    sources (ref :256-261, :563-584).  Duplicate *target* names are an
    immediate error instead of a latent duplicate column (SURVEY.md 7.4.7).
    """
    targets = [mapping.get(c, c) for c in columns]
    dupes = {t for t in targets if targets.count(t) > 1}
    if dupes:
        raise ValueError(f"rename would produce duplicate columns: {sorted(dupes)}")
    return targets


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """E13 -- bulk rename in a single select (see `renamed`)."""
    return df.select(*[F.col(c).alias(t) for c, t in zip(df.columns, renamed(df.columns, mapping))])


def stripped_strings(df: DataFrame) -> dict[str, Column]:
    """E14 -- ``{name: trimmed}`` for every string-typed column (ref
    whole-frame strip :476-478), for a caller's own projection."""
    return {f.name: ws_trim(f.name) for f in df.schema.fields if isinstance(f.dataType, _STRINGY)}


def strip_all_strings(df: DataFrame) -> DataFrame:
    """E14 -- trim every string-typed column in one projection."""
    return df.withColumns(stripped_strings(df))


def output_contract(
    df: DataFrame, mapping: Mapping[str, str | None], dtype: str = "string"
) -> tuple[DataFrame, list[str]]:
    """E15 -- fixed output schema: ``{dst_name: src_name_or_None}``.

    Absent/None sources become all-null columns of `dtype`; the list of
    padded destinations is returned for the run report (ref 26-col PUA
    OrderedDict :330-368, missing_sources :359-366).
    """
    missing: list[str] = []
    cols: list[Column] = []
    for dst, src in mapping.items():
        if src is not None and src in df.columns:
            cols.append(F.col(src).alias(dst))
        else:
            missing.append(dst)
            cols.append(F.lit(None).cast(dtype).alias(dst))
    return df.select(*cols), missing


def finalize_output(
    df: DataFrame, date_cols: Iterable[str] = (), decimal_scale: int = 2
) -> DataFrame:
    """E16 -- final normalization: every non-date column -> trimmed string,
    date columns -> timestamp (ref :370-374, :319-322).

    Numeric columns route through DECIMAL(38, scale) before the string
    cast so the textual form is stable fixed-point (engine-independent),
    not a double's shortest-round-trip repr.
    """
    date_set = set(date_cols)
    out: list[Column] = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.name in date_set:
            out.append(to_ts_coerce(c).alias(f.name))
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)):
            out.append(
                ws_trim(c.try_cast(f"decimal(38,{decimal_scale})").try_cast("string")).alias(f.name)
            )
        else:
            out.append(ws_trim(c.try_cast("string")).alias(f.name))
    return df.select(*out)


def pseudonymize(col: Column | str, salt: str) -> Column:
    """Deterministic keyed pseudonymization of an identifier column:
    sha2-256 over salt||value.  Same input -> same token, so joins and
    groupBys on the pseudonym keep working after PII is stripped
    (consistent tokenization, the release-safe sibling of
    curation.redact_pii's destructive masking).  Null stays null.
    Pure codegen projection -- scan speed, no shuffle.  The salt must
    come from a secret store; a public salt reduces this to a
    dictionary attack."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(), F.sha2(F.concat(F.lit(salt), c.cast("string")), 256)
    )


def mask_shape(col: Column | str) -> Column:
    """Format-preserving masking: digits -> 9, uppercase -> X,
    lowercase -> x; length, punctuation, and layout survive.  The
    safe-preview sibling of pseudonymize -- downstream format
    validators (phone/ID shape checks, fixed-width parsers) still
    pass, but the value itself is gone.  NOT reversible and NOT
    joinable (use pseudonymize for that).  Pure codegen
    regexp_replace chain, scan speed; null stays null."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c.cast("string"), "[0-9]", "9")
    out = F.regexp_replace(out, "[A-Z]", "X")
    return F.regexp_replace(out, "[a-z]", "x")
