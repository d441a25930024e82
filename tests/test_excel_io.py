"""S3/S6 stdlib Excel I/O (io.py read_excel_stdlib / write_excel).

The reference reads payroll extracts with pd.read_excel
(etl_payroll_pipeline.py:84) and writes the final output with to_excel
(:410-417).  This engine's xlsx path is stdlib zip+XML, so it must
roundtrip the contract's string-typed frames exactly -- including XML
special characters, embedded whitespace, nulls and ISO datetimes --
without openpyxl in the environment.
"""

from __future__ import annotations

import datetime
import io
import time
import zipfile

import pytest

from uofi_payroll_etl_main_spark.io import read_excel, read_excel_stdlib, write_excel


@pytest.fixture(scope="module")
def roundtrip(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("xlsx") / "out.xlsx")
    rows = [
        ("1", "a & b < c > d \"quoted\"", "2025-01-15 10:30:00"),
        ("2", "  leading and trailing  ", None),
        ("3", None, "garbage"),
        ("4", "unicode: aigüe ñ 北京", "1995-07-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "`Pay ID` string, `DESCRIPTION` string, `Calc Date` string")
    write_excel(df, path)
    back = read_excel_stdlib(spark, path)
    return path, rows, df, back


def test_write_excel_is_valid_zip_package(roundtrip):
    path, *_ = roundtrip
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
    assert {"[Content_Types].xml", "xl/workbook.xml", "xl/worksheets/sheet1.xml"} <= names


def test_roundtrip_values_and_headers(roundtrip):
    _, rows, df, back = roundtrip
    assert back.columns == df.columns
    got = sorted((r["Pay ID"], r["DESCRIPTION"], r["Calc Date"]) for r in back.collect())
    assert got == sorted(rows)


def test_read_excel_dispatches_without_openpyxl(roundtrip, spark):
    path, rows, *_ = roundtrip
    # in this container openpyxl is absent -> read_excel must fall back
    # to the stdlib parser rather than raising
    back = read_excel(spark, path)
    assert back.count() == len(rows)


def test_datetime_cells_render_iso(spark, tmp_path):
    path = str(tmp_path / "dt.xlsx")
    df = spark.createDataFrame(
        [(datetime.datetime(2025, 3, 1, 12, 0, 5), datetime.date(2024, 12, 31))],
        "ts timestamp, d date",
    )
    write_excel(df, path)
    got = read_excel_stdlib(spark, path).collect()[0]
    assert got["ts"] == "2025-03-01 12:00:05"
    assert got["d"] == "2024-12-31"


def test_write_excel_refuses_over_cap(spark, tmp_path, monkeypatch):
    import uofi_payroll_etl_main_spark.io as sio

    monkeypatch.setattr(sio, "EXCEL_MAX_ROWS", 3)
    path = tmp_path / "cap.xlsx"
    sio.write_excel(spark.range(3), str(path))  # at the cap: written
    assert path.exists()
    with pytest.raises(ValueError, match="more than 3 rows"):
        sio.write_excel(spark.range(4), str(tmp_path / "over.xlsx"))
    assert not (tmp_path / "over.xlsx").exists()


def test_xlsx_payload_is_byte_deterministic():
    from uofi_payroll_etl_main_spark.io import XLSX_MEMBER_TIME, xlsx_payload

    rows = [("1", "a"), ("2", None)]
    first = xlsx_payload(["k", "v"], rows)
    with zipfile.ZipFile(io.BytesIO(first)) as zf:
        assert {m.date_time for m in zf.infolist()} == {XLSX_MEMBER_TIME}
    time.sleep(2)  # zip timestamps have 2 s resolution
    assert xlsx_payload(["k", "v"], rows) == first


def test_shared_strings_reader(spark, tmp_path):
    """Files written by Excel/openpyxl use sharedStrings + s-type cells;
    the reader must resolve them (hand-built minimal package)."""
    path = str(tmp_path / "shared.xlsx")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        f'<sst xmlns="{ns}" count="3" uniqueCount="3">'
        "<si><t>colA</t></si><si><t>colB</t></si><si><t>hello</t></si></sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", shared)
    got = read_excel_stdlib(spark, path)
    assert got.columns == ["colA", "colB"]
    row = got.collect()[0]
    assert row["colA"] == "hello" and row["colB"] == "42"


class TestXlsxDataSource:
    def _books(self, spark, tmp_path, n_books=3):
        from uofi_payroll_etl_main_spark.io import write_excel

        df = spark.createDataFrame(
            [(str(i), f"name_{i}", str(i % 4)) for i in range(12)],
            "`id` string, `name` string, `grp` string",
        )
        rows = df.collect()
        for b in range(n_books):
            part = spark.createDataFrame(rows[b::n_books], df.schema)
            write_excel(part, str(tmp_path / f"book{b}.xlsx"))
        return sorted(tuple(r) for r in rows)

    def test_distributed_multi_file_scan(self, spark, tmp_path):
        from uofi_payroll_etl_main_spark.datasources import register_xlsx_source

        want = self._books(spark, tmp_path)
        register_xlsx_source(spark)
        df = spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
        assert df.columns == ["id", "name", "grp"]
        # one partition per workbook: the scan parallelizes to file count
        assert df.rdd.getNumPartitions() == 3
        assert sorted(tuple(r) for r in df.collect()) == want
        # directory form loads the same files
        df2 = spark.read.format("xlsx").load(str(tmp_path))
        assert sorted(tuple(r) for r in df2.collect()) == want

    def test_header_mismatch_fails_loudly(self, spark, tmp_path):
        import pytest as _pytest

        from uofi_payroll_etl_main_spark.datasources import register_xlsx_source
        from uofi_payroll_etl_main_spark.io import write_excel

        self._books(spark, tmp_path)
        rogue = spark.createDataFrame([("x", "y")], "`other` string, `cols` string")
        write_excel(rogue, str(tmp_path / "zz_rogue.xlsx"))
        register_xlsx_source(spark)
        df = spark.read.format("xlsx").load(str(tmp_path / "*.xlsx"))
        with _pytest.raises(Exception, match="does not match the"):
            df.collect()

    def test_wider_data_row_fails_loudly(self, spark, tmp_path):
        # header matches the planned schema, but one DATA row carries an
        # extra trailing cell: the reader must raise, not silently drop it
        import pytest as _pytest

        from uofi_payroll_etl_main_spark.datasources import register_xlsx_source
        from uofi_payroll_etl_main_spark.io import xlsx_payload

        payload = xlsx_payload(["a", "b"], [("1", "2"), ("3", "4", "SURPRISE")])
        (tmp_path / "w.xlsx").write_bytes(payload)
        register_xlsx_source(spark)
        with _pytest.raises(Exception, match="refusing"):
            # schema inference parses the first workbook, so the drift
            # already surfaces at load(); collect() for the general case
            spark.read.format("xlsx").load(str(tmp_path / "w.xlsx")).collect()

    def test_remote_uri_forms(self, spark, tmp_path):
        # file:// URIs route through the pyarrow layer (the same path a
        # remote scheme takes); remote globs fail loudly instead of
        # silently matching nothing
        import pytest as _pytest

        from uofi_payroll_etl_main_spark.datasources import (
            _expand_paths,
            register_xlsx_source,
        )

        want = self._books(spark, tmp_path)
        register_xlsx_source(spark)
        df = spark.read.format("xlsx").load(f"file://{tmp_path}")
        assert sorted(tuple(r) for r in df.collect()) == want
        with _pytest.raises(ValueError, match="glob patterns"):
            _expand_paths("s3://bucket/prefix/*.xlsx")

    def test_fs_open_write_creates_parents(self, tmp_path):
        # the executor-side write path: pyarrow-backed, no JVM, parents
        # created on demand; unknown schemes fail loudly
        import pytest as _pytest

        from uofi_payroll_etl_main_spark import fs as _fs

        target = str(tmp_path / "deep" / "nest" / "x.bin")
        _fs.write_bytes(target, b"payload")
        with open(target, "rb") as f:
            assert f.read() == b"payload"
        with _pytest.raises(IOError):
            _fs.open_write("bogus-scheme://bucket/x")

    def test_missing_path_raises(self, spark, tmp_path):
        import pytest as _pytest

        from uofi_payroll_etl_main_spark.datasources import register_xlsx_source

        register_xlsx_source(spark)
        with _pytest.raises(Exception, match="no .xlsx files match"):
            spark.read.format("xlsx").load(str(tmp_path / "nope_*.xlsx")).collect()

    def test_distributed_writer_roundtrip_and_commit(self, spark, tmp_path):
        import os

        from uofi_payroll_etl_main_spark.datasources import register_xlsx_source

        register_xlsx_source(spark)
        df = spark.createDataFrame(
            [(str(i), f"n{i}") for i in range(20)], "`id` string, `name` string"
        ).repartition(4)
        out = str(tmp_path / "books")
        df.write.format("xlsx").mode("append").save(out)
        names = sorted(os.listdir(out))
        # one committed workbook per partition + the success marker,
        # and no leftover hidden tmp files
        assert names == ["_SUCCESS"] + [f"part-0000{i}.xlsx" for i in range(4)]
        back = spark.read.format("xlsx").load(out)
        assert sorted(tuple(r) for r in back.collect()) == sorted(
            tuple(r) for r in df.collect()
        )

    def test_writer_overwrite_clears_stale_parts(self, spark, tmp_path):
        import os

        from uofi_payroll_etl_main_spark.datasources import register_xlsx_source

        register_xlsx_source(spark)
        out = str(tmp_path / "books")
        wide = spark.createDataFrame(
            [(str(i),) for i in range(12)], "`id` string"
        ).repartition(4)
        wide.write.format("xlsx").mode("append").save(out)
        assert len([f for f in os.listdir(out) if f.endswith(".xlsx")]) == 4
        # narrower overwrite: the two old extra parts must disappear
        narrow = spark.createDataFrame(
            [(str(i),) for i in range(6)], "`id` string"
        ).repartition(2)
        narrow.write.format("xlsx").mode("overwrite").save(out)
        parts = sorted(f for f in os.listdir(out) if f.endswith(".xlsx"))
        assert parts == ["part-00000.xlsx", "part-00001.xlsx"]
        back = spark.read.format("xlsx").load(out)
        assert sorted(r.id for r in back.collect()) == sorted(str(i) for i in range(6))
