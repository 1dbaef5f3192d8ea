"""Source/sink tests: CSV NaN-policy round-trip, ANY-list rendering."""

from __future__ import annotations

from sig_etl_spark.sources import read_stage_csv, render_any_list, write_stage_csv
import pytest


def test_csv_stage_roundtrip_nan_policy(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "", None, "nan-like"), ("b", "x", "y", "")],
        ["k", "empty", "null_col", "other"],
    )
    path = str(tmp_path / "stage.csv")
    write_stage_csv(df, path)
    back = read_stage_csv(spark, path)
    rows = {r.k: r for r in back.collect()}
    # nulls survive as nulls (written as the literal 'nan')
    assert rows["a"].null_col is None
    # empty strings survive as empty strings, NOT null (keep_default_na=False)
    assert rows["a"].empty == ""
    assert rows["b"].other == ""
    assert rows["b"].null_col == "y"


def test_render_any_list():
    assert render_any_list("office_id", [1, 2, 3]) == "office_id IN (1, 2, 3)"
    assert (
        render_any_list("state_id", ["TX", "O'Hare"])
        == "state_id IN ('TX', 'O''Hare')"
    )
    assert render_any_list("x", []) == "FALSE"


# --- S14: Excel source (stdlib xlsx parse) --------------------------------

_XLSX_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
  <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
  <Default Extension="xml" ContentType="application/xml"/>
  <Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
  <Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
  <Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_XLSX_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_XLSX_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
  <sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_XLSX_SHARED = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
  <si><t>zip</t></si><si><t>state_id</t></si><si><t>TX</t></si><si><t>CA</t></si>
</sst>"""

# Row 2: shared-string + numeric; row 3: sparse (zip missing) + inline str;
# row 4: numeric zip + shared TX.
_XLSX_SHEET = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
  <sheetData>
    <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
    <row r="2"><c r="A2"><v>75001</v></c><c r="B2" t="s"><v>2</v></c></row>
    <row r="3"><c r="B3" t="inlineStr"><is><t>NY</t></is></c></row>
    <row r="4"><c r="A4"><v>94105</v></c><c r="B4" t="s"><v>3</v></c></row>
  </sheetData>
</worksheet>"""


def _write_fixture_xlsx(path):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        zf.writestr("_rels/.rels", _XLSX_RELS)
        zf.writestr("xl/workbook.xml", _XLSX_WORKBOOK)
        zf.writestr("xl/sharedStrings.xml", _XLSX_SHARED)
        zf.writestr("xl/worksheets/sheet1.xml", _XLSX_SHEET)


def test_read_excel_stdlib(spark, tmp_path):
    from sig_etl_spark.sources import read_excel

    path = str(tmp_path / "dim.xlsx")
    _write_fixture_xlsx(path)
    df = read_excel(spark, path)
    assert df.columns == ["zip", "state_id"]
    rows = sorted(
        ((r.zip, r.state_id) for r in df.collect()), key=lambda t: (t[0] or "",)
    )
    # dtype=str semantics: numerics surface as strings, missing cells null
    assert rows == [(None, "NY"), ("75001", "TX"), ("94105", "CA")]


def test_read_excel_dim_driven_join(spark, sf_dir, tmp_path):
    """J9 shape: the xlsx dim drives a broadcast join against fact data."""
    from pyspark.sql import functions as F

    from sig_etl_spark.sources import read_excel
    from sig_etl_spark.tables import load_table

    path = str(tmp_path / "dim.xlsx")
    _write_fixture_xlsx(path)
    dim = read_excel(spark, path).filter(F.col("zip").isNotNull())
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "zip",
        F.element_at(
            F.array(F.lit("75001"), F.lit("94105"), F.lit("00000")),
            (F.col("c_custkey") % 3).cast("int") + 1,
        ),
    )
    joined = cust.join(F.broadcast(dim), "zip")
    got = dict(
        joined.groupBy("state_id").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    total = cust.count()
    assert set(got) == {"TX", "CA"}
    assert sum(got.values()) < total  # the 00000 zips fell out


def test_write_xlsx_roundtrip(spark, tmp_path):
    from sig_etl_spark.sources import read_excel, write_xlsx

    path = str(tmp_path / "out.xlsx")
    write_xlsx(
        path,
        ["a", "b"],
        [["1", "x"], [None, "y <&> z"], ["3", None]],
    )
    df = read_excel(spark, path)
    assert df.columns == ["a", "b"]
    rows = sorted(df.collect(), key=lambda r: (r.a or "",))
    assert [(r.a, r.b) for r in rows] == [
        (None, "y <&> z"), ("1", "x"), ("3", None),
    ]


# --- S12: live JDBC round-trip against embedded Derby (ships in Spark's
# jars for the Hive metastore, so this is a real driver, not a mock) -----


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    db = str(tmp_path_factory.mktemp("derby") / "refdb")
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE ref_map (id INT, code VARCHAR(8), label VARCHAR(32))")
    for i in range(20):
        st.executeUpdate(
            f"INSERT INTO ref_map VALUES ({i}, 'C{i % 4}', 'label {i}')"
        )
    st.close()
    conn.close()
    return url


def test_jdbc_query_pushdown(spark, derby_url):
    from sig_etl_spark.sources import jdbc_query, render_any_list

    pred = render_any_list("code", ["C1", "C3"])
    df = jdbc_query(
        spark,
        derby_url,
        f"SELECT id, code FROM ref_map WHERE {pred}",
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    rows = sorted((r.ID, r.CODE) for r in df.collect())
    assert len(rows) == 10
    assert {c for _, c in rows} == {"C1", "C3"}


def test_jdbc_query_partitioned_read(spark, derby_url):
    from sig_etl_spark.sources import jdbc_query

    df = jdbc_query(
        spark,
        derby_url,
        "SELECT id, label FROM ref_map",
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        partition_column="id",
        num_partitions=4,
        lower_bound=0,
        upper_bound=20,
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 20
    assert sorted(r.ID for r in df.collect()) == list(range(20))


def test_jdbc_stage_dir_reaps_own_pid_leftover_once(tmp_path, monkeypatch):
    """A stage dir already under this process's pid on the first call can
    only be a crashed predecessor's (recycled pid): it is removed, stale
    db.lck included. Later calls keep the dir this process is using."""
    import os
    import tempfile

    from sig_etl_spark.queries import extract_demo

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(extract_demo, "_JDBC_STAGE_CLEANUP", [False])
    stale = tmp_path / f"sig_etl_stage_jdbc_{os.getpid()}"
    stale.mkdir()
    (stale / "db.lck").write_bytes(b"stale")

    assert extract_demo._jdbc_stage_dir() == str(stale)
    assert not stale.exists()

    stale.mkdir()
    (stale / "db.lck").write_bytes(b"live")
    assert extract_demo._jdbc_stage_dir() == str(stale)
    assert (stale / "db.lck").exists()


def test_read_excel_sheet_index_numeric_order(spark, tmp_path):
    """sheet=N must map to sheetN+1.xml numerically, not lexicographically
    (sheet10.xml sorts before sheet2.xml as a string)."""
    import zipfile

    from sig_etl_spark.sources import read_excel

    path = str(tmp_path / "many.xlsx")

    def sheet_xml(tag):
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            '<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c></row>'
            f'<row r="2"><c r="A2" t="inlineStr"><is><t>{tag}</t></is></c></row>'
            "</sheetData></worksheet>"
        )

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        zf.writestr("_rels/.rels", _XLSX_RELS)
        zf.writestr("xl/workbook.xml", _XLSX_WORKBOOK)
        for i in range(1, 13):
            zf.writestr(f"xl/worksheets/sheet{i}.xml", sheet_xml(f"s{i}"))

    assert read_excel(spark, path, sheet=1).collect()[0].name == "s2"
    assert read_excel(spark, path, sheet=9).collect()[0].name == "s10"

def test_read_excel_workbook_order_beats_file_numbering(spark, tmp_path):
    """Externally-authored workbooks can have sheet POSITION decoupled from
    sheetN.xml file numbering (sheets get reordered in the UI). sheet=N must
    follow xl/workbook.xml's <sheets> order via the rels targets, not the
    file names."""
    import zipfile

    from sig_etl_spark.sources import read_excel

    path = str(tmp_path / "reordered.xlsx")

    def sheet_xml(tag):
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            '<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c></row>'
            f'<row r="2"><c r="A2" t="inlineStr"><is><t>{tag}</t></is></c></row>'
            "</sheetData></worksheet>"
        )

    # UI order: Second (sheet2.xml), First (sheet1.xml)
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        ' xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Second" sheetId="2" r:id="rIdB"/>'
        '<sheet name="First" sheetId="1" r:id="rIdA"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rIdA" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rIdB" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        zf.writestr("_rels/.rels", _XLSX_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml("from_file1"))
        zf.writestr("xl/worksheets/sheet2.xml", sheet_xml("from_file2"))

    # position 0 is "Second" which lives in sheet2.xml
    assert read_excel(spark, path, sheet=0).collect()[0].name == "from_file2"
    assert read_excel(spark, path, sheet=1).collect()[0].name == "from_file1"


def test_read_excel_header_hygiene(spark, tmp_path):
    """Duplicate and backtick-bearing header cells must not corrupt the
    DDL schema string: duplicates get positional suffixes, backticks are
    escaped (doubled) in the identifier quoting."""
    from sig_etl_spark.sources import read_excel, write_xlsx

    path = str(tmp_path / "dup.xlsx")
    write_xlsx(path, ["id", "id", "id_2", "we`ird"], [["1", "2", "3", "4"]])
    df = read_excel(spark, path)
    assert df.columns == ["id", "id_2", "id_2_2", "we`ird"]
    row = df.collect()[0]
    assert [row[c] for c in df.columns] == ["1", "2", "3", "4"]


def test_xlsx_roundtrip_property(spark):
    """write_xlsx -> read_excel is identity for arbitrary cell text:
    XML-special characters, unicode, whitespace — everything must survive
    the OOXML escape/parse cycle. (Cells that are pure whitespace or
    empty are exempt: xlsx renders None and '' identically.)"""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from sig_etl_spark.sources import read_excel, write_xlsx

    cell = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"),  # no surrogates/control chars
        ),
        min_size=1,
        max_size=20,
    ).filter(lambda s: s.strip() == s and s)

    @settings(max_examples=20, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(st.tuples(cell, cell), min_size=1, max_size=5))
    def roundtrip(rows):
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            path = f"{td}/prop.xlsx"
            write_xlsx(path, ["a", "b"], [list(r) for r in rows])
            got = [(r.a, r.b) for r in read_excel(spark, path).collect()]
            assert got == rows

    roundtrip()


def test_jsonl_roundtrip_lossless(spark, sf_dir):
    """Round-tripped frame must equal the source-derived frame exactly,
    including double bits (exceptAll both ways)."""
    from pyspark.sql import functions as F

    from sig_etl_spark.queries import QUERIES
    from sig_etl_spark.tables import load_table

    back = QUERIES["jsonl_stage_roundtrip"].builder(spark, sf_dir)
    want = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.datediff(F.date_trunc("day", F.col("ts")), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("dayno"),
        "value",
    )
    assert back.exceptAll(want).count() == 0
    assert want.exceptAll(back).count() == 0


def test_schema_evolution_backfills_nulls(spark, sf_dir):
    from pyspark.sql import functions as F

    from sig_etl_spark.queries import QUERIES

    df = QUERIES["parquet_schema_evolution"].builder(spark, sf_dir)
    assert set(df.columns) == {"o_orderkey", "cents", "priority", "batch"}
    v1 = df.filter(F.col("batch") == "v1")
    v2 = df.filter(F.col("batch") == "v2")
    assert v1.count() > 0 and v2.count() > 0
    # old-schema rows: the new column is null; new-schema rows: populated
    assert v1.filter(F.col("priority").isNotNull()).count() == 0
    assert v2.filter(F.col("priority").isNull()).count() == 0
