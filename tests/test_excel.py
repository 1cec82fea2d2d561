"""S14 Excel source/sink: stdlib OOXML round-trip + the reference tool's
phone pipeline (app/tools/e164_phone_normalizer.py:314-357,582-622)."""

import warnings
import zipfile


from pcrawler_spark.sources.excel import (
    _colindex,
    _colref,
    excel_phone_pipeline,
    read_xlsx,
    write_xlsx,
    xlsx_to_dataframe,
)

def test_colref_roundtrip():
    for i in [0, 1, 25, 26, 27, 51, 52, 701, 702, 16383]:
        assert _colindex(_colref(i) + "7") == i
    assert _colref(0) == "A" and _colref(25) == "Z"
    assert _colref(26) == "AA" and _colref(701) == "ZZ" and _colref(702) == "AAA"


def test_write_read_roundtrip(tmp_path):
    path = str(tmp_path / "t.xlsx")
    cols = ["name", "n", "ratio", "note", "flag"]
    rows = [
        ["Công ty TNHH Số 1", 42, 3.5, "xin chào <&> \"quotes\"", True],
        ["b", -7, 0.125, None, False],
        [None, None, None, "", None],
    ]
    write_xlsx(path, cols, rows)
    rcols, rrows = read_xlsx(path)
    assert rcols == cols
    assert rrows == rows
    # types survive: int stays int, float stays float, bool stays bool
    assert isinstance(rrows[0][1], int) and isinstance(rrows[0][2], float)
    assert rrows[0][4] is True and rrows[1][4] is False


def test_read_shared_strings_and_sparse_cells(tmp_path):
    """Files written by openpyxl/pandas use sharedStrings and may omit empty
    cells entirely (sparse rows addressed by r= refs) — the reader must
    handle both even though our writer never emits them."""
    path = str(tmp_path / "shared.xlsx")
    sst = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<si><t>id</t></si><si><t>val</t></si>"
        "<si><r><t>rich </t></r><r><t>text</t></r></si></sst>"
    )
    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2"><v>7</v></c><c r="C2" t="s"><v>2</v></c></row>'
        '<row r="3"><c r="C3" t="str"><v>cached</v></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    cols, rows = read_xlsx(path)
    assert cols == ["id", "col1", "val"]  # gap column gets a synthetic name
    assert rows == [[7, None, "rich text"], [None, None, "cached"]]


def test_nan_inf_become_blank(tmp_path):
    path = str(tmp_path / "nan.xlsx")
    write_xlsx(path, ["x"], [[float("nan")], [float("inf")], [1.0]])
    _, rows = read_xlsx(path)
    assert rows == [[None], [None], [1.0]]


def test_spark_dataframe_roundtrip(spark, tmp_path):  # noqa: F811
    from pcrawler_spark.sources.excel import dataframe_to_xlsx

    df = spark.createDataFrame(
        [(1, "Hà Nội", 2.5), (2, None, None), (3, "x<&>y", -1.0)],
        "id bigint, city string, score double",
    )
    path = str(tmp_path / "df.xlsx")
    dataframe_to_xlsx(df, path)
    back = xlsx_to_dataframe(spark, path)
    assert back.columns == ["id", "city", "score"]
    got = sorted([tuple(r) for r in back.collect()])
    assert got == [(1, "Hà Nội", 2.5), (2, None, None), (3, "x<&>y", -1.0)]


def test_excel_phone_pipeline(spark, tmp_path):  # noqa: F811
    """End-to-end analogue of process_excel_e164: multi-phone cells split to
    one row per normalized number; no-phone rows survive with ''; numeric
    cells lose the float decimal before normalization (:385-390)."""
    src = str(tmp_path / "in.xlsx")
    out = str(tmp_path / "out.xlsx")
    write_xlsx(
        src,
        ["company", "contact"],
        [
            ["A", "0912345678; 0329999999"],
            ["B", "+84 28 3822 1234"],
            ["C", "no digits here"],
            ["D", None],
            ["E", 84912345678.0],  # numeric cell → '84912345678'
        ],
    )
    # the mixed text/number column goes through Arrow: no row-by-row
    # fallback warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        res = excel_phone_pipeline(spark, src, output_path=out)
        got = sorted((r["company"], r["final_phone"]) for r in res.collect())
    assert got == [
        ("A", "+84329999999"),
        ("A", "+84912345678"),
        ("B", ""),  # VN landline w/ spaces: invalid NSN → dropped (q35 row 2)
        ("C", ""),
        ("D", ""),
        ("E", "+84912345678"),
    ]
    # the sink round-trips the split result
    cols, rows = read_xlsx(out)
    assert cols == ["company", "contact", "final_phone"]
    assert sorted(r[2] for r in rows) == sorted(g[1] for g in got)


def test_phone_column_autodetect_explicit_override(spark, tmp_path):  # noqa: F811
    src = str(tmp_path / "in2.xlsx")
    write_xlsx(
        src,
        ["id", "website", "hotline"],
        [[1, "https://example.vn/123456789", "0912345678"]],
    )
    # autodetect picks the FIRST phone-ish column (the reference's rule,
    # :366-378) — here 'website' (has a 9-digit run); explicit wins
    res = excel_phone_pipeline(spark, src, phone_column="hotline")
    assert [r["final_phone"] for r in res.collect()] == ["+84912345678"]


def test_empty_sheet(tmp_path):
    path = str(tmp_path / "empty.xlsx")
    write_xlsx(path, ["a", "b"], [])
    cols, rows = read_xlsx(path)
    assert cols == ["a", "b"] and rows == []


def test_hypothesis_roundtrip(tmp_path):
    """Property: any grid of typed cells survives write→read bit-exact
    (strings incl. XML-special + unicode, ints, finite floats, bools,
    None)."""
    from hypothesis import given, settings, strategies as st

    cell = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                exclude_categories=("Cs", "Cc"),  # no surrogates/control (XML 1.0)
            ),
            max_size=40,
        ),
    )

    @settings(max_examples=25, deadline=None)
    @given(rows=st.lists(st.lists(cell, min_size=3, max_size=3), max_size=6))
    def check(rows):
        path = str(tmp_path / "h.xlsx")
        cols = ["a", "b", "c"]
        write_xlsx(path, cols, rows)
        rcols, rrows = read_xlsx(path)
        assert rcols == cols
        assert rrows == rows

    check()


def test_newlines_and_carriage_returns_roundtrip(tmp_path):
    path = str(tmp_path / "nl.xlsx")
    rows = [["line1\nline2"], ["a\r\nb"], ["tab\there"], ["cr\ronly"]]
    write_xlsx(path, ["x"], rows)
    _, rrows = read_xlsx(path)
    assert rrows == rows


def test_sheet_selection_by_name(tmp_path):
    """Multi-sheet third-party file: sheets resolve through workbook.xml +
    rels by NAME (part filenames deliberately misleading — sheet10 would
    sort before sheet2 lexically)."""
    path = str(tmp_path / "multi.xlsx")
    def sheet_xml(vals):
        rows = "".join(
            f'<row r="{i+1}"><c r="A{i+1}" t="inlineStr"><is><t>{v}</t></is></c></row>'
            for i, v in enumerate(vals)
        )
        return ('<?xml version="1.0"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{rows}</sheetData></worksheet>")
    wb = ('<?xml version="1.0"?>'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          '<sheets><sheet name="Data" sheetId="1" r:id="rId1"/>'
          '<sheet name="Notes" sheetId="2" r:id="rId2"/></sheets></workbook>')
    rels = ('<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet10.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>'
            '</Relationships>')
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet10.xml", sheet_xml(["h", "data-row"]))
        z.writestr("xl/worksheets/sheet2.xml", sheet_xml(["h", "notes-row"]))
    # default = workbook's FIRST sheet (Data → sheet10.xml), not lexical order
    assert read_xlsx(path)[1] == [["data-row"]]
    assert read_xlsx(path, sheet="Data")[1] == [["data-row"]]
    assert read_xlsx(path, sheet="Notes")[1] == [["notes-row"]]
    try:
        read_xlsx(path, sheet="Nope")
        assert False, "expected ValueError"
    except ValueError as e:
        assert "Nope" in str(e)


def test_absolute_rel_targets_resolve(tmp_path):
    """A spec-legal ABSOLUTE rels Target ('/xl/worksheets/...') must resolve
    to the right part — the r3 reader prefixed 'xl/' unconditionally and
    silently fell back to the lexically-first worksheet (ADVICE r3); '..'
    segments in relative targets must collapse too."""
    path = str(tmp_path / "abs.xlsx")

    def sheet_xml(v):
        return ('<?xml version="1.0"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f'<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>'
                f'<row r="2"><c r="A2" t="inlineStr"><is><t>{v}</t></is></c></row>'
                "</sheetData></worksheet>")

    wb = ('<?xml version="1.0"?>'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          '<sheets><sheet name="Abs" sheetId="1" r:id="rId1"/>'
          '<sheet name="Dots" sheetId="2" r:id="rId2"/></sheets></workbook>')
    rels = ('<?xml version="1.0"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="/xl/worksheets/sheet2.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="../xl/worksheets/sheet1.xml"/>'
            '</Relationships>')
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        # lexically sheet1 < sheet2: the old bug would pick sheet1 for "Abs"
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml("dots-row"))
        z.writestr("xl/worksheets/sheet2.xml", sheet_xml("abs-row"))
    assert read_xlsx(path, sheet="Abs")[1] == [["abs-row"]]
    assert read_xlsx(path, sheet="Dots")[1] == [["dots-row"]]


def test_quote_in_sheet_name_roundtrip(tmp_path):
    """A double quote in the sheet name must not corrupt workbook.xml
    (escape() leaves '\"' intact — ADVICE r3)."""
    path = str(tmp_path / "q.xlsx")
    name = 'He said "hi" & left'
    write_xlsx(path, ["a"], [[1]], sheet_name=name)
    assert read_xlsx(path, sheet=name)[1] == [[1]]


def test_xlsx_dir_distributed_read(spark, tmp_path):  # noqa: F811
    """Many-file ingest: binaryFile + mapInPandas parse on executors must
    return exactly the union of the driver-side per-file reads — including
    a file with reordered/extra/missing columns (schema aligns by name)."""
    from pcrawler_spark.sources.excel import xlsx_dir_to_dataframe

    d = tmp_path / "books"
    d.mkdir()
    write_xlsx(str(d / "a.xlsx"), ["name", "n"], [["a1", 1], ["a2", 2]])
    write_xlsx(str(d / "b.xlsx"), ["name", "n"], [["b1", 3]])
    # reordered + extra column; 'n' absent → null
    write_xlsx(str(d / "c.xlsx"), ["extra", "name"], [["x", "c1"]])
    (d / "ignore.txt").write_text("not a workbook")

    out = xlsx_dir_to_dataframe(spark, str(d), "name string, n long")
    rows = {(r["name"], r["n"]) for r in out.collect()}
    assert rows == {("a1", 1), ("a2", 2), ("b1", 3), ("c1", None)}

    # identical to the driver-side path where schemas agree
    drv = set()
    for f in ("a.xlsx", "b.xlsx"):
        for r in xlsx_to_dataframe(spark, str(d / f)).collect():
            drv.add((r["name"], r["n"]))
    assert drv <= rows


def test_xlsx_dir_duplicate_headers_raise(spark, tmp_path):
    """Duplicate header names would silently drop all but the last column
    under by-name matching — the distributed ingest must refuse instead."""
    import pytest

    from pcrawler_spark.sources.excel import write_xlsx, xlsx_dir_to_dataframe

    p = tmp_path / "dup.xlsx"
    write_xlsx(str(p), ["a", "b", "a"], [[1, 2, 3]])
    df = xlsx_dir_to_dataframe(spark, str(tmp_path), "a string, b string")
    with pytest.raises(Exception, match="duplicate header"):
        df.collect()
