"""Sources and sinks (SURVEY.md section 2.1, S3-S7).

Distributed formats (parquet, CSV) go through `spark.read`/`df.write` so
scans are partitioned, column-pruned, and filter-pushed at any scale.
Excel has no first-class distributed reader in core Spark; the reference
uses it only for KB-scale extracts (etl_payroll_pipeline.py:84, :92).
Two tiers here: a driver-edge reader/writer for single small workbooks
(this module), and the `xlsx` Spark 4 Python Data Source
(datasources.py) that runs the same stdlib parse/emit kernels
executor-side, one partition per workbook, for folder-scale Excel.
"""

from __future__ import annotations

from collections.abc import Sequence

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "read_parquet",
    "read_csv",
    "write_csv",
    "write_csv_single",
    "read_excel",
    "read_excel_stdlib",
    "write_excel",
    "load_table",
    "write_training_shards",
    "snapshot_diff",
    "list_unprocessed",
    "read_incremental",
    "commit_ingest",
    "delete_rows",
    "bucketed_table", "ivm_init", "ivm_refresh", "ivm_init_zset", "ivm_refresh_zset", "ivm_read_zset", "ivm_compact_zset",
    "compact_version",
]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union the file schemas (mergeSchema), so a
    dataset whose writers added columns over time scans as one frame
    with nulls for pre-addition files.

    mergeSchema costs a footer read per file at planning time -- fine
    for a dataset, wasteful as a default (which is why read_parquet
    doesn't set it); at 100 TB pin the merged schema in a catalog and
    pass it explicitly instead.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Convenience: one TPC-H-ish testdata table (TESTDATA.md).

    The events table's ts physical type has changed across test-data
    generations (TIMESTAMP(NANOS); micros without isAdjustedToUTC,
    which Spark 4 surfaces as TIMESTAMP_NTZ and rejects in unix_micros
    / long casts; plain micros).  Normalize ALL flavors to a session-TZ
    TIMESTAMP here, at the load edge, so no downstream operator ever
    sees the difference: nanos are read as long (legacy conf) and
    truncated to micros like DuckDB/Arrow do; NTZ is reinterpreted in
    the session TZ (UTC in tests/gates -- identical instants).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_field = next((f for f in df.schema.fields if f.name == "ts"), None)
        if ts_field is not None and isinstance(ts_field.dataType, T.LongType):
            # integer div, NOT /1000-and-floor: the double rounds at ~1e18 ns
            # and can land one microsecond high.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_field is not None and isinstance(ts_field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """S4 -- CSV scan (ref pd.read_csv :129, :168, :173).

    Prefer an explicit schema: inferSchema costs an extra full read and
    can drift types between runs -- unacceptable at 100 TB.
    """
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5 -- distributed CSV sink: one file per partition (the 100 TB
    shape).  Use write_csv_single only at the small parity edge."""
    df.write.mode(mode).option("header", True).csv(path)


def write_csv_single(df: DataFrame, path: str) -> str:
    """S5 (parity variant) -- single named CSV file like the reference's
    ``to_csv`` upload (ref :396-403).  coalesce(1) at the SINK EDGE only
    -- never mid-plan (it would serialize the whole upstream plan onto
    one task).  Returns the final file path."""
    tmp = path + "._spark_tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


# --------------------------------------------------------------------------
# Excel I/O (S3/S6).  xlsx is a zip of XML parts, so the stdlib
# (zipfile + xml.etree) covers the reference contract -- pd.read_excel of
# a small extract (ref :84) and to_excel of the final output (ref
# :410-417) -- with no third-party engine.  When openpyxl IS present,
# pandas' richer reader is preferred for scans (styles, multi-sheet
# numerics); the writer always uses the stdlib path (deterministic
# output, inline strings, ISO datetimes).
#
# The helpers below are the driver-edge tier (single KB-scale workbook,
# the reference's shape).  Folder-scale Excel fans out through the
# registered `xlsx` Python Data Source (datasources.py), which reuses
# parse_xlsx / xlsx_payload executor-side.
# --------------------------------------------------------------------------

_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
XLSX_MEMBER_TIME = (1980, 1, 1, 0, 0, 0)  # the zip format's earliest date
EXCEL_MAX_ROWS = 1_000_000  # write_excel refuses larger frames


def _col_letter(i: int) -> str:
    """0-based column index -> A1-style letters."""
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def _col_index(ref: str) -> int:
    """A1-style cell ref -> 0-based column index."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _xlsx_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def parse_xlsx(source, sheet: int = 0) -> tuple[list[str], list[tuple]]:
    """xlsx parse kernel (zipfile + xml.etree only): (header, rows) of
    all-string cells, first sheet row as header.  Supports inline
    strings, shared strings, and numeric cells (numbers surface as
    their literal text, the string-typed pipeline contract).  `source`
    is a path or file-like; runs identically on the driver
    (read_excel_stdlib) and on executors (the `xlsx` Python Data
    Source in datasources.py)."""
    import io as _io
    import zipfile
    import xml.etree.ElementTree as ET

    with zipfile.ZipFile(source) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.parse(_io.BytesIO(zf.read("xl/sharedStrings.xml"))).getroot()
            for si in root.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        sheet_names = sorted(
            n for n in zf.namelist()
            if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")
        )
        root = ET.parse(_io.BytesIO(zf.read(sheet_names[sheet]))).getroot()
        rows: list[list[str | None]] = []
        for row_el in root.iter(f"{_XLSX_NS}row"):
            cells: dict[int, str | None] = {}
            for c in row_el.findall(f"{_XLSX_NS}c"):
                ci = _col_index(c.get("r", ""))
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find(f"{_XLSX_NS}is")
                    v = "".join(t.text or "" for t in is_el.iter(f"{_XLSX_NS}t")) if is_el is not None else None
                else:
                    v_el = c.find(f"{_XLSX_NS}v")
                    v = v_el.text if v_el is not None else None
                    if ctype == "s" and v is not None:
                        v = shared[int(v)]
                cells[ci] = v
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i) for i in range(width)])
    if not rows:
        raise ValueError(f"empty worksheet in {source!r}")
    header = [h if h is not None else f"col_{i}" for i, h in enumerate(rows[0])]
    width = len(header)
    data = []
    for i, r in enumerate(rows[1:]):
        if len(r) > width and any(v is not None for v in r[width:]):
            # a VALUE past the header width is column drift -- loud
            # error, never silent cell loss.  (Styled-but-empty trailing
            # cells, which real spreadsheets carry routinely, pad away.)
            raise ValueError(
                f"data row {i} has non-empty cells past the {width}-column "
                "header; refusing to drop trailing cells (column drift)"
            )
        data.append(tuple((r + [None] * width)[:width]))
    return header, data


def read_excel_stdlib(spark: SparkSession, path: str, sheet: int = 0) -> DataFrame:
    """S3 -- driver-side xlsx scan over one workbook (parse_xlsx
    kernel).  For a FOLDER of workbooks, the registered `xlsx` Python
    Data Source (datasources.py) runs the same kernel executor-side,
    one partition per file."""
    header, data = parse_xlsx(path, sheet)
    schema = ", ".join(f"`{h}` string" for h in header)
    return spark.createDataFrame(data, schema)


def read_excel(spark: SparkSession, path: str, sheet_name=0) -> DataFrame:
    """S3 -- Excel scan (ref pd.read_excel :84).  pandas+openpyxl when
    installed (richer typed reads); stdlib zip+XML parser otherwise."""
    try:
        import openpyxl  # noqa: F401
        import pandas as pd
    except ImportError:
        return read_excel_stdlib(
            spark, path, sheet=sheet_name if isinstance(sheet_name, int) else 0
        )
    pdf = pd.read_excel(path, sheet_name=sheet_name)
    pdf = pdf.where(pd.notna(pdf), None)
    return spark.createDataFrame(pdf.astype(object))


def xlsx_payload(header, body_rows) -> bytes:
    """Minimal valid xlsx bytes from a header + row iterable -- the
    stdlib zip+XML kernel shared by the driver-edge sink (write_excel)
    and the distributed `xlsx` Data Source writer (datasources.py).
    Every value is an inline string (nulls -> empty cell);
    timestamps/dates render ISO ('YYYY-MM-DD HH:MM:SS'), matching the
    CSV sink's textual form so the two sinks are equivalence-checkable."""
    import datetime as _dt
    import io as _io
    import zipfile

    def cell_text(v) -> str | None:
        if v is None:
            return None
        if isinstance(v, _dt.datetime):
            return v.strftime("%Y-%m-%d %H:%M:%S")
        if isinstance(v, _dt.date):
            return v.strftime("%Y-%m-%d")
        return str(v)

    def row_xml(ri: int, values) -> str:
        cells = []
        for ci, v in enumerate(values):
            t = cell_text(v)
            if t is None:
                continue
            cells.append(
                f'<c r="{_col_letter(ci)}{ri}" t="inlineStr"><is><t xml:space="preserve">'
                f"{_xlsx_escape(t)}</t></is></c>"
            )
        return f'<row r="{ri}">' + "".join(cells) + "</row>"

    rows_xml = [row_xml(1, header)]
    rows_xml += [row_xml(i + 2, tuple(r)) for i, r in enumerate(body_rows)]
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(rows_xml) + "</sheetData></worksheet>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    parts = {
        "[Content_Types].xml": content_types,
        "_rels/.rels": rels,
        "xl/workbook.xml": workbook,
        "xl/_rels/workbook.xml.rels": wb_rels,
        "xl/worksheets/sheet1.xml": sheet,
    }
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            # a fixed member timestamp: the same rows give the same bytes
            member = zipfile.ZipInfo(name, XLSX_MEMBER_TIME)
            member.external_attr = 0o600 << 16  # owner rw, as writestr(name) sets
            zf.writestr(member, xml, zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def write_excel(df: DataFrame, path: str) -> str:
    """S6 -- Excel sink (ref to_excel :410-417): one workbook written
    driver-side from a collected DataFrame (small outputs only).  For a
    distributed many-workbook sink use df.write.format("xlsx")
    (datasources.py), which runs the same xlsx_payload kernel one file
    per partition with a rename-on-commit protocol."""
    rows = df.limit(EXCEL_MAX_ROWS + 1).collect()
    if len(rows) > EXCEL_MAX_ROWS:
        raise ValueError(f"refusing driver-side Excel write of more than {EXCEL_MAX_ROWS} rows")
    payload = xlsx_payload(df.columns, [tuple(r) for r in rows])
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as f:
        f.write(payload)
    return path


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-Lines scan -- the interchange format of LLM corpus tooling.

    Always pass `schema` in production: schema inference reads the data
    TWICE, and a drifting inferred schema breaks downstream contracts.
    Splittable when uncompressed or zstd-framed; one task per split at
    scale like any text source.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed JSON-Lines sink (one file per partition)."""
    df.write.mode(mode).json(path)


def write_range_sorted(
    df: DataFrame,
    path: str,
    by: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted parquet layout for min/max data
    skipping: each output file covers a disjoint range of `by`, and
    rows inside a file are sorted, so row-group statistics prune both
    files and row groups for range predicates on the layout key --
    the single-key cousin of Z-ordering, and the first lever for
    100 TB time-range scans when directory partitioning (S9) would be
    too fine-grained.

    repartitionByRange samples the key to build balanced boundaries
    (skew-resistant); sortWithinPartitions is a local sort, no extra
    shuffle.
    """
    cols = [df[c] for c in by]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files is not None
        else df.repartitionByRange(*cols)
    )
    out.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) key of two already-scaled integer columns in
    [0, 2^bits): bit-interleave via a Catalyst aggregate over the bit
    positions -- pure codegen, no UDF.

    Columns must be pre-scaled (see write_zordered); masking keeps the
    shifts ANSI-safe.
    """
    mask = F.lit((1 << bits) - 1).cast("long")
    xm = x.cast("long").bitwiseAND(mask)
    ym = y.cast("long").bitwiseAND(mask)
    # bits is a plan-time constant, so the interleave unrolls to a flat
    # 2*bits-term sum of shift/mask ops -- one codegen expression
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xm, i).bitwiseAND(one), 2 * i)
            + F.shiftleft(F.shiftright(ym, i).bitwiseAND(one), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-ordered parquet layout: cluster rows along a Morton curve of
    two numeric columns so EVERY file covers a small bounding box in
    BOTH dimensions -- min/max footer stats then prune files for
    predicates on either column (or a box on both), where a single-key
    sort only skips on its leading column.

    Scaling is linear min/max -> [0, 2^bits) (two scalar aggregates,
    broadcast); rank-based scaling resists skew better but costs a
    global sort -- at 100 TB do the rank pass on a sample.  The write
    itself is repartitionByRange + local sort on the z key, same
    shuffle budget as write_range_sorted.
    """
    if len(cols) != 2:
        raise ValueError("write_zordered interleaves exactly 2 columns")
    cx, cy = cols
    rng = df.agg(
        F.min(F.col(cx).cast("double")).alias("__xmin"),
        F.max(F.col(cx).cast("double")).alias("__xmax"),
        F.min(F.col(cy).cast("double")).alias("__ymin"),
        F.max(F.col(cy).cast("double")).alias("__ymax"),
    )
    top = F.lit((1 << bits) - 1)

    def scale(c, lo, hi):
        span = F.when(F.col(hi) > F.col(lo), F.col(hi) - F.col(lo)).otherwise(F.lit(1.0))
        return F.least(
            top.cast("double"),
            F.floor((F.col(c).cast("double") - F.col(lo)) / span * (1 << bits)),
        ).cast("long")

    keyed = df.crossJoin(F.broadcast(rng)).withColumn(
        "__z",
        zorder_key(scale(cx, "__xmin", "__xmax"), scale(cy, "__ymin", "__ymax"), bits),
    )
    (
        keyed.repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", "__xmin", "__xmax", "__ymin", "__ymax")
        .write.mode(mode)
        .parquet(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (built into Spark; columnar, predicate-pushdown-capable
    like parquet -- the interchange format for Hive-era estates)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed ORC sink."""
    df.write.mode(mode).orc(path)


def write_partitioned(
    df: DataFrame, path: str, by: Sequence[str], mode: str = "overwrite"
) -> None:
    """Hive-layout partitioned parquet sink (`path/col=value/...`).

    Partition columns become directory keys: readers filtering on them
    prune whole directories at planning time (PartitionFilters in the
    scan, zero I/O for pruned values) -- the first lever for 100 TB
    time-range / category scans.  Choose low-cardinality columns; a
    high-cardinality partition key creates a small-files explosion.
    """
    df.write.mode(mode).partitionBy(*by).parquet(path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """CDC fold: apply `updates` onto the parquet dataset at `path`,
    keeping per key the row with the HIGHEST `order_col` (a version /
    event-time column; updates win ties).

    Plain-parquet merge is read + union + keep-latest + atomic rewrite --
    the portable form of MERGE INTO for format-agnostic storage.  One
    shuffle on the merge keys.  At 100 TB, partition `path` by a stable
    key range and rewrite only partitions that received updates; a table
    format (Delta/Iceberg/Hudi) turns the rewrite into a metadata commit
    but the fold below is the same.

    Returns the merged DataFrame (also written back to `path`).
    """
    from pyspark.sql import Window

    from . import fs

    existing = spark.read.parquet(path)
    # updates sort after existing at equal order -> updates win ties
    tagged = existing.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), F.col("__src").desc())
    merged = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    path = fs.canon(path)
    tmp = path.rstrip("/") + ".__merge_tmp"
    swap = path.rstrip("/") + ".__merge_old"
    # clear debris from a previous crashed merge: a leftover swap dir
    # would make the retire rename fail outright; a leftover tmp is
    # simply overwritten by the write below
    fs.delete(swap)
    merged.write.mode("overwrite").parquet(tmp)  # write IS the materialization
    # POSIX offers no atomic directory swap: a crash between the two
    # renames leaves the data at `swap` (recoverable by renaming back),
    # never deleted.  A table format (Delta/Iceberg) turns this window
    # into a metadata commit; for plain parquet this is the floor.
    fs.atomic_swap(path, tmp, swap)
    return spark.read.parquet(path)


def merge_additive(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Incremental materialized-rollup refresh: fold an (optionally
    pre-aggregated) delta into the rollup at `path` by summing
    `sum_cols` per `keys`, with the same crash-recoverable atomic-swap
    rewrite as merge_upsert.

    The incremental-ETL shape: a periodic job aggregates only the new
    partition of the fact table and folds it in, so refresh cost tracks
    the DELTA, not the table -- the portable form of an incrementally
    maintained materialized view.  Summable aggregates only (count/sum;
    store sum+count to derive avg); min/max fold too, but non-mergeable
    aggregates (distinct, exact quantiles) need their sketch forms.
    Applying deltas in any grouping is associative, so two deltas fold
    to the same rollup as one combined recompute (pytest-asserted).
    """
    from . import fs

    existing = spark.read.parquet(path)
    merged = (
        existing.unionByName(delta, allowMissingColumns=True)
        .groupBy(*[F.col(k) for k in keys])
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )
    path = fs.canon(path)
    tmp = path.rstrip("/") + ".__merge_tmp"
    swap = path.rstrip("/") + ".__merge_old"
    fs.delete(swap)
    merged.write.mode("overwrite").parquet(tmp)
    fs.atomic_swap(path, tmp, swap)
    return spark.read.parquet(path)


def compact(spark: SparkSession, path: str, target_files: int) -> DataFrame:
    """Small-files compaction: rewrite the parquet dataset at `path`
    into `target_files` files via an atomic directory swap (same
    crash-recoverable rename discipline as merge_upsert).

    The operational answer to streaming/CDC sinks accreting thousands
    of tiny files: scan cost at 100 TB is dominated by file-open
    overhead once the file count outgrows split planning.  coalesce
    (no shuffle) when reducing file count; repartition only to grow.
    """
    from . import fs

    df = spark.read.parquet(path)
    n_now = df.rdd.getNumPartitions()
    out = df.coalesce(target_files) if target_files <= n_now else df.repartition(target_files)
    path = fs.canon(path)
    tmp = path.rstrip("/") + ".__compact_tmp"
    swap = path.rstrip("/") + ".__compact_old"
    fs.delete(swap)
    out.write.mode("overwrite").parquet(tmp)
    fs.atomic_swap(path, tmp, swap)
    return spark.read.parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "doc_id",
    seed: str = "0",
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus as `n_shards` equal-size, deterministically
    shuffled training shards (`path/shard=K/`), each internally ordered
    by the same md5-keyed permutation.

    Composition of shuffle_index (scalable global position, no
    single-partition stage) + round-robin shard = pos % n_shards: every
    shard gets an interleaved, unbiased 1/n sample of the shuffled
    order -- the layout a data-parallel training job reads (worker K
    scans only shard=K, no skip/seek).  repartition on the shard column
    gives one task per shard; sortWithinPartitions preserves the
    within-shard read order on disk.
    """
    from .llm.curation import shuffle_index

    out = shuffle_index(df, key_col=key_col, seed=seed)
    out = out.withColumn("shard", (F.col("shuffle_pos") % F.lit(n_shards)).cast("int"))
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shuffle_pos")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level diff of two snapshots of the same table: emits one row
    per key that was ADDED (in new only), REMOVED (in old only), or
    CHANGED (present in both with any compare column null-safe
    different).  Unchanged rows are dropped -- the output is the CDC
    delta that `merge_upsert` applies, so diff + apply round-trips.

    One full-outer shuffle join on the keys; the change test is a
    codegen chain of null-safe equalities.  For very wide tables at
    100 TB, pre-hash the compare columns (xxhash64) on each scan side
    so the join carries one long instead of the full row.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    # explicit aliases: old/new often derive from the SAME source frame
    # (snapshot-vs-snapshot of one table), and unqualified refs would be
    # ambiguous under Spark's self-join analysis
    o = old.select(*keys, *compare_cols).alias("__snap_old")
    n = new.select(*keys, *compare_cols).alias("__snap_new")

    def oc(c):
        return F.col(f"__snap_old.{c}")

    def nc(c):
        return F.col(f"__snap_new.{c}")

    cond = None
    for k in keys:
        clause = oc(k).eqNullSafe(nc(k))
        cond = clause if cond is None else (cond & clause)
    j = o.join(n, cond, "full_outer")
    in_old = oc(keys[0]).isNotNull()
    in_new = nc(keys[0]).isNotNull()
    same = None
    for c in compare_cols:
        clause = oc(c).eqNullSafe(nc(c))
        same = clause if same is None else (same & clause)
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out = j.withColumn("change_type", change).filter(F.col("change_type").isNotNull())
    sel = [F.coalesce(nc(k), oc(k)).alias(k) for k in keys]
    return out.select(*sel, "change_type")


# ---------------------------------------------------------------------------
# Versioned snapshot store (table-format-lite: publish + time travel)
# ---------------------------------------------------------------------------

def list_versions(root: str) -> list[int]:
    """Committed versions at `root`, ascending.  A version counts only
    once its Spark `_SUCCESS` marker exists -- half-written snapshots
    (crashed writers) are invisible to every reader.

    All metadata ops go through the Hadoop FileSystem API of the
    active session (see fs.py), so `root` may be any URI the data
    path accepts -- local, file://, hdfs://, s3a:// -- and the commit
    protocol and df.write.parquet share one filesystem."""
    import re as _re

    from . import fs

    root = fs.canon(root)
    out = []
    for name in fs.listdir(root):
        m = _re.fullmatch(r"v=(\d+)", name)
        if m and fs.exists(fs.join(root, name, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def write_version(df: DataFrame, root: str, stale_after_s: float = 600.0) -> int:
    """Publish a new immutable snapshot version (1-based, dense) and
    return its number.  Old versions are never touched -- readers
    pinned to them keep a consistent view (time travel), and rollback
    is "point at version N-1", not a data rewrite.

    Commit protocol: data lands under `v=N/` and becomes visible
    atomically when the parquet committer drops `_SUCCESS`; a reader
    listing versions mid-write simply does not see N yet.  At 100 TB
    this is the same O(files) commit as any parquet write -- no table
    lock, no manifest rewrite of earlier versions.

    Crash recovery vs live-writer safety: a writer that died mid-write
    leaves `v=N/` with no `_SUCCESS` -- invisible to readers but
    colliding with the next publish (mode('error') raises on an
    existing path), wedging the store forever.  An uncommitted dir at
    the chosen version is therefore swept before writing -- but ONLY
    when nothing inside it has been touched for `stale_after_s`
    seconds.  A concurrent writer racing this one keeps its directory
    fresh (the committer streams part files into it), so a recent
    uncommitted dir means IN-FLIGHT, not crashed, and deleting it
    would silently interleave two writers' part files under one
    eventual _SUCCESS.  That case raises ConcurrentWriteError instead:
    the caller backs off and retries, exactly the optimistic-commit
    loop write_version_if documents.  Committed versions are never
    touched.
    """
    import time

    from . import fs

    root = fs.canon(root)
    vs = list_versions(root)
    n = (vs[-1] + 1) if vs else 1
    target = fs.join(root, f"v={n}")
    if fs.is_dir(target) and not fs.exists(fs.join(target, "_SUCCESS")):
        newest = fs.newest_mtime(target)
        if time.time() - newest < stale_after_s:
            raise ConcurrentWriteError(
                f"uncommitted {target} was modified {time.time() - newest:.0f}s "
                f"ago (< stale_after_s={stale_after_s:g}): another writer "
                "appears in flight; back off and retry"
            )
        fs.delete(target)
    df.write.mode("error").parquet(target)
    return n


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the given committed version, or the latest.
    Raises if the store is empty or the pinned version was never
    committed."""
    from . import fs

    vs = list_versions(root)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {root}")
    v = vs[-1] if version is None else int(version)
    if v not in vs:
        raise FileNotFoundError(f"version {v} not committed under {root} (have {vs})")
    return spark.read.parquet(fs.join(fs.canon(root), f"v={v}"))


def compact_version(
    spark: SparkSession, root: str, target_bytes: int
) -> tuple[int, int, int]:
    """Store-level small-file compaction: rewrite the LATEST committed
    snapshot as a NEW version whose files each hold ~`target_bytes` --
    the OPTIMIZE pass a streaming-fed store needs once its versions
    accumulate per-commit small files.  Publishing THROUGH
    write_version keeps every guarantee for free: the rewrite is
    atomic (visible only at `_SUCCESS`), concurrent writers are
    detected, time travel to the pre-compaction version still works,
    and vacuum_versions eventually reclaims it.  Row content is
    identical by construction -- the rewrite is one repartition, no
    filters, no projections.

    Returns (new_version, n_files_before, n_files_after).  Local-path
    metadata listing (the planner needs byte sizes); the data rewrite
    itself goes through the session's filesystem like any publish.
    """
    import math
    import os

    from . import fs

    vs = list_versions(root)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {root}")
    vdir = fs.join(fs.canon(root), f"v={vs[-1]}")
    local = vdir[len("file:"):] if vdir.startswith("file:") else vdir
    sizes = [
        os.path.getsize(os.path.join(local, n))
        for n in os.listdir(local)
        if n.endswith(".parquet")
    ]
    n_before = len(sizes)
    n_out = max(1, math.ceil(sum(sizes) / max(1, int(target_bytes))))
    new_v = write_version(
        spark.read.parquet(vdir).repartition(n_out), root
    )
    new_local = os.path.join(local[: local.rfind("v=")], f"v={new_v}")
    n_after = sum(1 for n in os.listdir(new_local) if n.endswith(".parquet"))
    return new_v, n_before, n_after


def write_version_if(
    df: DataFrame, root: str, expected_latest: int | None
) -> int:
    """Optimistic-concurrency publish: commit a new version ONLY if the
    store's latest committed version is still `expected_latest`
    (None = expect an empty store).  Raises ConcurrentWriteError when
    another writer got there first -- the caller re-reads, re-derives,
    and retries, exactly the table-format commit loop.

    The check-then-write window is small but real on a shared store;
    a production edition would CAS a manifest pointer.  The semantics
    (conflict surfaces as an error, never a silent overwrite -- old
    versions are immutable either way) are what the engine certifies.
    """
    vs = list_versions(root)
    latest = vs[-1] if vs else None
    if latest != expected_latest:
        raise ConcurrentWriteError(
            f"expected latest={expected_latest} but store has {latest} under {root}"
        )
    return write_version(df, root)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed first; re-derive from the new latest."""


def vacuum_versions(root: str, keep_latest: int = 2) -> list[int]:
    """Retention for the versioned snapshot store: delete all but the
    newest `keep_latest` COMMITTED versions (and any uncommitted
    crash debris older than the retained set).  Returns the versions
    deleted, ascending.

    The table-format GC step: time travel is only useful if storage is
    bounded, and readers pinned inside the retained window are never
    disturbed -- deletion walks strictly older versions.  A reader
    pinned BEYOND the window races GC exactly as in real table formats;
    the retention window is the operator's contract with its readers.
    keep_latest must be >= 1: the latest committed version is never
    deletable.
    """
    import re as _re

    from . import fs

    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1")
    root = fs.canon(root)
    committed = list_versions(root)
    keep = set(committed[-int(keep_latest):])
    deleted = []
    # numeric order, not lexicographic: a name listing sorts 'v=10'
    # before 'v=2', which would break the documented ascending return
    # order
    candidates = []
    for name in fs.listdir(root):
        m = _re.fullmatch(r"v=(\d+)", name)
        if m:
            candidates.append((int(m.group(1)), name))
    for v, name in sorted(candidates):
        committed_v = v in committed
        # delete: old committed versions outside the window, and
        # uncommitted debris older than the newest retained version
        if (committed_v and v not in keep) or (
            not committed_v and keep and v < max(keep)
        ):
            fs.delete(fs.join(root, name))
            if committed_v:
                deleted.append(v)
    return deleted


def read_version_changes(
    spark: SparkSession,
    root: str,
    v_from: int,
    v_to: int,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change data feed between two committed snapshot versions: the
    added/removed/changed key set that transforms v_from into v_to
    (snapshot_diff over two time-travel reads).  The incremental-
    consumer contract of every table format: downstream jobs read the
    delta, not the snapshot.  Cost: one full-outer key join of the two
    versions -- at 100 TB consumers read adjacent versions, where the
    delta (and the join's skew profile) is small by construction."""
    return snapshot_diff(
        read_version(spark, root, v_from),
        read_version(spark, root, v_to),
        keys,
        compare_cols,
    )


class QualityGateError(RuntimeError):
    """A quality-gated publish refused to commit: expectation rules
    failed.  Carries the failing (rule, column, metric, threshold)
    rows so the caller can report precisely what broke."""

    def __init__(self, failures: list):
        self.failures = failures
        desc = "; ".join(
            f"{f['rule']}({f['column']}): metric={f['metric']} vs threshold={f['threshold']}"
            for f in failures
        )
        super().__init__(f"quality gate failed: {desc}")


def write_version_checked(
    df: DataFrame, root: str, expectations: Sequence[dict]
) -> int:
    """Quality-gated publish: evaluate declarative expectations
    (report.check_expectations -- ONE aggregate pass) and commit a new
    snapshot version only when every rule passes; otherwise raise
    QualityGateError with the failing rules and write NOTHING.  The
    write-audit-publish pattern that keeps bad loads out of the store
    readers trust -- at 100 TB the check costs one scan, strictly
    cheaper than a bad publish plus a rollback."""
    from .report import check_expectations

    report = check_expectations(df, expectations)
    failures = [r.asDict() for r in report.filter(~F.col("passed")).collect()]
    if failures:
        raise QualityGateError(failures)
    return write_version(df, root)


def list_unprocessed(spark: SparkSession, src_dir: str, manifest_path: str) -> list[str]:
    """File-level incremental-ingest discovery: the data files under
    `src_dir` (recursive, *.parquet, committer sidecars excluded)
    that the manifest has NOT recorded yet, sorted for deterministic
    processing order.  Listing goes through the Hadoop FileSystem API
    (fs.py), same contract as the versioned store: any URI the data
    path accepts works here."""
    from . import fs

    files = [
        f
        for f in fs.list_files(fs.canon(src_dir))
        if f.endswith(".parquet")
        and not os.path.basename(f).startswith(("_", "."))
    ]
    seen: set[str] = set()
    mroot = fs.canon(manifest_path)
    if any(
        f.endswith(".parquet") and not os.path.basename(f).startswith(("_", "."))
        for f in fs.list_files(mroot)
    ):
        seen = {r.file_path for r in spark.read.parquet(manifest_path).collect()}
    return [f for f in files if f not in seen]


def read_incremental(
    spark: SparkSession, src_dir: str, manifest_path: str
):
    """Manifest-based incremental ingest: read ONLY the source files a
    previous run hasn't committed -- the batch replacement for a
    streaming file source when runs are scheduled, not continuous.

    Discovery walks `src_dir` recursively at part-file granularity
    (the unit a file sink appends), so an arrival "batch" can be a
    whole spark-written directory or a single dropped file.

    Returns (df, new_files); after the downstream write succeeds, call
    commit_ingest(spark, manifest_path, new_files) to mark them done.
    Crash between read and commit reprocesses the same files next run
    (at-least-once at file granularity); pair with an idempotent sink
    (merge_upsert / write_version) for exactly-once end-to-end --
    the same recovery contract as the streaming foreachBatch sinks.

    Scale: discovery is metadata-only (file listing + a file-path
    manifest read); the data read is a plain parquet scan of just the
    new files, so cost tracks the DELTA, not the accumulated corpus.
    """
    new_files = list_unprocessed(spark, src_dir, manifest_path)
    if not new_files:
        return None, []
    return spark.read.parquet(*new_files), new_files


def commit_ingest(spark: SparkSession, manifest_path: str, files: list[str]) -> None:
    """Record processed files in the ingest manifest (append-only
    parquet of file_path).  Append is atomic per task file; a torn
    append re-lists at worst a missing entry -> reprocess, never a
    skip."""
    if not files:
        return
    spark.createDataFrame(
        [(f,) for f in sorted(files)], "file_path string"
    ).coalesce(1).write.mode("append").parquet(manifest_path)


def delete_rows(
    spark: SparkSession,
    path: str,
    subjects: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Targeted hard delete: remove every row of the parquet dataset at
    `path` whose key appears in `subjects` -- the right-to-be-forgotten
    / takedown primitive (GDPR art. 17, DMCA removal) that completes
    the governance family: redact_pii masks, pseudonymize tokenizes,
    delete_rows ERASES.

    The delete is a broadcast LEFT ANTI join (the subject list is
    request-scale, the table is not) followed by the same atomic
    rewrite-and-swap merge_upsert uses, so readers see either the old
    or the new dataset, never a partial one.  At 100 TB, partition by
    a stable key range and rewrite only partitions containing subjects
    (the anti-join's matched-partition set); table formats turn the
    rewrite into a delete-vector commit, but the anti-join below is
    the same.  Swap atomicity is per-scheme (fs.atomic_swap): on an
    object store prefer a versioned publish.  Returns the surviving
    DataFrame (also written back).
    """
    from . import fs

    key_list = list(keys)
    existing = spark.read.parquet(path)
    kept = existing.join(F.broadcast(subjects.select(*key_list).distinct()), key_list, "left_anti")
    path = fs.canon(path)
    tmp = path.rstrip("/") + ".__delete_tmp"
    swap = path.rstrip("/") + ".__delete_old"
    fs.delete(swap)
    kept.write.mode("overwrite").parquet(tmp)
    fs.atomic_swap(path, tmp, swap)
    return spark.read.parquet(path)


def snapshot_diff_images(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """snapshot_diff with PRE/POST IMAGES: one row per added / removed /
    changed key carrying old_<col> and new_<col> for every compare
    column -- the full change-data-feed contract (Delta CDF's
    update_preimage/update_postimage collapsed onto one row), so a
    consumer can apply reversals, compute deltas of measures, or audit
    exactly what a change did without re-reading either snapshot.

    Same single full-outer key shuffle as snapshot_diff; the images are
    projections of columns the join already carries, so the extra cost
    is output width only.
    """
    keys = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    compare_cols = list(compare_cols)
    o = old.select(*keys, *compare_cols).alias("__img_old")
    n = new.select(*keys, *compare_cols).alias("__img_new")

    def oc(c):
        return F.col(f"__img_old.{c}")

    def nc(c):
        return F.col(f"__img_new.{c}")

    cond = None
    for k in keys:
        clause = oc(k).eqNullSafe(nc(k))
        cond = clause if cond is None else (cond & clause)
    j = o.join(n, cond, "full_outer")
    in_old = oc(keys[0]).isNotNull()
    in_new = nc(keys[0]).isNotNull()
    same = None
    for c in compare_cols:
        clause = oc(c).eqNullSafe(nc(c))
        same = clause if same is None else (same & clause)
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    out = j.withColumn("change_type", change).filter(F.col("change_type").isNotNull())
    sel = [F.coalesce(nc(k), oc(k)).alias(k) for k in keys]
    sel += [oc(c).alias(f"old_{c}") for c in compare_cols]
    sel += [nc(c).alias(f"new_{c}") for c in compare_cols]
    return out.select(*sel, "change_type")


def read_version_changes_images(
    spark: SparkSession,
    root: str,
    v_from: int,
    v_to: int,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change data feed with pre/post images between two committed
    snapshot versions (snapshot_diff_images over two time-travel
    reads) -- read_version_changes' full-fidelity sibling."""
    return snapshot_diff_images(
        read_version(spark, root, v_from),
        read_version(spark, root, v_to),
        keys,
        compare_cols,
    )


def bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    table: str,
    key: str,
    buckets: int = 8,
) -> DataFrame:
    """Write-once bucketed parquet table, registered as an external
    table in the session catalog, returned as a catalog-backed
    DataFrame.

    Bucketing is THE co-located-join layout at 100 TB: both sides of a
    recurring join are hash-clustered into the same number of buckets
    on the join key at WRITE time, so every subsequent join matches
    bucket i to bucket i with zero Exchange in the plan -- the shuffle
    is paid once when the table lands, not on every query
    (tests/test_layout.py asserts the exchange-free SortMergeJoin).

    The data lives at ``path`` (bucket ids are encoded in the file
    names Spark writes); the catalog entry is per-session, so a fresh
    session re-registers the existing files with
    ``CREATE TABLE .. CLUSTERED BY .. LOCATION`` instead of rewriting.
    Beyond-reference scale operator (the reference joins pandas frames
    in memory, etl_payroll_pipeline.py:186-210).

    The physical layout (key, buckets) is persisted in a sidecar
    ``_bucket_spec.json`` next to ``_SUCCESS`` at write time (temp file
    + atomic rename) and VALIDATED both on re-register and when the
    table is already in the session catalog: a CLUSTERED BY clause that doesn't
    match the files' actual hash layout would make bucket pruning read
    the wrong buckets and silently return wrong join results, so a
    mismatched caller is an error, never a registration.
    """
    spec_path = os.path.join(path, "_bucket_spec.json")

    def check_spec() -> None:
        if not os.path.exists(spec_path):
            return
        with open(spec_path) as f:
            spec = json.load(f)
        if spec.get("key") != key or int(spec.get("buckets", -1)) != int(buckets):
            raise ValueError(
                f"bucketed_table: files at {path} were written "
                f"CLUSTERED BY ({spec.get('key')}) INTO "
                f"{spec.get('buckets')} BUCKETS but caller asked for "
                f"({key}, {buckets}); registering the mismatched layout "
                f"would silently corrupt bucket-pruned joins"
            )

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(table)
        )
        # temp-file + rename so a crash between saveAsTable and the
        # sidecar can't leave _SUCCESS with a half-written spec
        tmp = spec_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"key": key, "buckets": int(buckets)}, f)
        os.replace(tmp, spec_path)
    elif not spark.catalog.tableExists(table):
        check_spec()
        schema = spark.read.parquet(path).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    else:
        # table already registered in this session: a caller passing a
        # mismatched (key, buckets) must still get the layout error, not
        # the existing table under a spec it didn't ask for
        check_spec()
    return spark.table(table)


def ivm_init(
    spark: SparkSession, root: str, a: DataFrame, b: DataFrame, on: str
) -> None:
    """Initialize an incrementally-maintained join view V = A JOIN B
    (equi-key `on`, same column name both sides): materialize both base
    snapshots and the joined view under `root`."""
    a.write.mode("overwrite").parquet(os.path.join(root, "a.parquet"))
    b.write.mode("overwrite").parquet(os.path.join(root, "b.parquet"))
    a.join(b, on).write.mode("overwrite").parquet(os.path.join(root, "view.parquet"))


def ivm_refresh(
    spark: SparkSession,
    root: str,
    on: str,
    delta_a: DataFrame | None = None,
    delta_b: DataFrame | None = None,
) -> None:
    """Incremental view maintenance for an INSERT-ONLY equi join: apply
    the classic delta decomposition

        dV = dA JOIN B_old  UNION ALL  A_old JOIN dB  UNION ALL  dA JOIN dB

    appending dV to the view and the deltas to their base snapshots.
    The view is NEVER recomputed from scratch -- each refresh costs
    |delta| join work, not |A|+|B|, which is the whole point at 100 TB
    (a nightly delta against a petabyte view).  Appends here are plain
    parquet `append` (one new file set per refresh); a production
    deployment puts the same fold behind a table format so the append
    is a metadata commit.  Deletes/updates need signed deltas (z-sets)
    -- out of scope for the insert-only contract, asserted in tests."""
    a_path = os.path.join(root, "a.parquet")
    b_path = os.path.join(root, "b.parquet")
    v_path = os.path.join(root, "view.parquet")
    a_old = spark.read.parquet(a_path)
    b_old = spark.read.parquet(b_path)
    parts = []
    if delta_a is not None:
        parts.append(delta_a.join(b_old, on))
    if delta_b is not None:
        parts.append(a_old.join(delta_b, on))
        if delta_a is not None:
            parts.append(delta_a.join(delta_b, on))
    if not parts:
        return
    dv = parts[0]
    for p in parts[1:]:
        dv = dv.unionByName(p)
    dv.write.mode("append").parquet(v_path)
    if delta_a is not None:
        delta_a.write.mode("append").parquet(a_path)
    if delta_b is not None:
        delta_b.write.mode("append").parquet(b_path)


def ivm_init_zset(
    spark: SparkSession, root: str, a: DataFrame, b: DataFrame, on: str
) -> None:
    """Signed-multiplicity (z-set) variant of ivm_init: every base and
    view row carries __mult; inserts are +1, deletes are -1, and the
    net view is the multiplicity-weighted sum (the DBSP / differential
    dataflow algebra, which makes DELETES incremental too)."""
    am = a.withColumn("__mult", F.lit(1).cast("long"))
    bm = b.withColumn("__mult", F.lit(1).cast("long"))
    am.write.mode("overwrite").parquet(os.path.join(root, "a.parquet"))
    bm.write.mode("overwrite").parquet(os.path.join(root, "b.parquet"))
    _zset_join(am, bm, on).write.mode("overwrite").parquet(
        os.path.join(root, "view.parquet")
    )


def _zset_join(a: DataFrame, b: DataFrame, on: str) -> DataFrame:
    """Join two signed relations: multiplicities MULTIPLY (the bilinear
    join rule -- a deleted left row times an existing right row yields
    a -1 view row that cancels the original)."""
    am = a.withColumnRenamed("__mult", "__ma")
    bm = b.withColumnRenamed("__mult", "__mb")
    return (
        am.join(bm, on)
        .withColumn("__mult", (F.col("__ma") * F.col("__mb")).cast("long"))
        .drop("__ma", "__mb")
    )


def ivm_refresh_zset(
    spark: SparkSession,
    root: str,
    on: str,
    delta_a: DataFrame | None = None,
    delta_b: DataFrame | None = None,
) -> None:
    """Signed incremental refresh: `delta_a`/`delta_b` carry __mult
    (+1 insert, -1 delete of a previously-inserted row).  Same
    three-term decomposition as ivm_refresh; the bilinear multiplicity
    rule makes retraction flow through joins for free -- a -1 left
    delta joined to the right base emits -1 view rows that cancel the
    rows the original +1 emitted.  Each refresh still costs |delta|
    join work; ivm_read nets multiplicities at read time (a production
    deployment compacts periodically)."""
    a_path = os.path.join(root, "a.parquet")
    b_path = os.path.join(root, "b.parquet")
    v_path = os.path.join(root, "view.parquet")
    a_old = spark.read.parquet(a_path)
    b_old = spark.read.parquet(b_path)
    parts = []
    if delta_a is not None:
        parts.append(_zset_join(delta_a, b_old, on))
    if delta_b is not None:
        parts.append(_zset_join(a_old, delta_b, on))
        if delta_a is not None:
            parts.append(_zset_join(delta_a, delta_b, on))
    if not parts:
        return
    dv = parts[0]
    for p in parts[1:]:
        dv = dv.unionByName(p)
    dv.write.mode("append").parquet(v_path)
    if delta_a is not None:
        delta_a.write.mode("append").parquet(a_path)
    if delta_b is not None:
        delta_b.write.mode("append").parquet(b_path)


def ivm_read_zset(spark: SparkSession, root: str) -> DataFrame:
    """Net the signed view: group by the row payload, sum multiplicities,
    keep net-positive rows (weighted by the net multiplicity)."""
    v = spark.read.parquet(os.path.join(root, "view.parquet"))
    cols = [c for c in v.columns if c != "__mult"]
    return (
        v.groupBy(*cols)
        .agg(F.sum("__mult").cast("long").alias("__mult"))
        .filter(F.col("__mult") > 0)
    )


def ivm_compact_zset(spark: SparkSession, root: str) -> None:
    """Compact a z-set IVM store: net multiplicities in the view and
    both base snapshots and rewrite each as one snapshot (net-zero rows
    vanish), through the same tmp-write + atomic-swap protocol as
    merge_upsert -- bounds the read amplification that accumulates
    after many append-mode refreshes.  Running it never changes
    ivm_read_zset's answer (pytest-held); at 100 TB this is the
    nightly maintenance job between delta refreshes."""
    from . import fs

    for name in ("a.parquet", "b.parquet", "view.parquet"):
        path = fs.canon(os.path.join(root, name))
        df = spark.read.parquet(path)
        cols = [c for c in df.columns if c != "__mult"]
        net = (
            df.groupBy(*cols)
            .agg(F.sum("__mult").cast("long").alias("__mult"))
            .filter(F.col("__mult") != 0)
        )
        tmp = path.rstrip("/") + ".__compact_tmp"
        swap = path.rstrip("/") + ".__compact_old"
        fs.delete(swap)
        net.write.mode("overwrite").parquet(tmp)
        fs.atomic_swap(path, tmp, swap)
