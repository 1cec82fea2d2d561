"""Excel (.xlsx) source/sink — SURVEY §2 S14, the last inventory item.

The reference ships an Excel ops tool (``app/tools/e164_phone_normalizer.py``):
``pd.read_excel`` at :593, phone-column autodetect + number→text coercion at
:360-399, split-multi-phone-cells-to-rows at :314-357, the ``final_phone``
column at :500-580 and ``df.to_excel`` at :613.  This environment has no
openpyxl/xlsxwriter, so the OOXML container is handled directly with the
stdlib — an ``.xlsx`` file is a zip of XML parts (ECMA-376 / ISO-29500,
public spec):

* the writer emits native numeric cells for ints/floats, ``t="b"`` for
  booleans and ``t="inlineStr"`` for text (self-contained — no
  sharedStrings part needed);
* the reader additionally understands ``sharedStrings.xml`` (what
  openpyxl / pandas emit), formula-cached ``t="str"`` cells and sparse rows
  addressed by cell reference (``r="C7"``), so third-party files load too.

Scale note: Excel is an OPS-TOOL format (one file, ≤1,048,576 rows by the
format's own limit) — the read parses on the driver then parallelizes, the
write collects to the driver; both are documented small-data paths, exactly
the scope of the reference's pandas tool.  The phone pipeline between them
(`excel_phone_pipeline`) is distributed (vectorized split kernel + explode),
so the same transformation serves big tables when fed parquet instead.
"""

from __future__ import annotations

import os
import re
import zipfile
from typing import Any, List, Optional, Sequence, Tuple
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

__all__ = [
    "write_xlsx",
    "read_xlsx",
    "xlsx_to_dataframe",
    "dataframe_to_xlsx",
    "excel_phone_pipeline",
]

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _colref(i: int) -> str:
    """0-based column index → spreadsheet letters (0→A, 25→Z, 26→AA)."""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _colindex(ref: str) -> int:
    """Cell reference → 0-based column index ('C7' → 2)."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return n - 1


def _cell_xml(ref: str, value: Any) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, int):
        return f'<c r="{ref}"><v>{value}</v></c>'
    if isinstance(value, float):
        if value != value or value in (float("inf"), float("-inf")):
            return ""  # Excel numeric cells cannot hold NaN/Inf → blank
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    # XML parsers normalize literal \r (and \r\n) to \n on read; the
    # character reference survives, so CRs round-trip byte-exact
    text = escape(str(value)).replace("\r", "&#xD;")
    return (
        f'<c r="{ref}" t="inlineStr">'
        f'<is><t xml:space="preserve">{text}</t></is></c>'
    )


def write_xlsx(path: str, columns: Sequence[str], rows: Sequence[Sequence[Any]],
               sheet_name: str = "Sheet1") -> None:
    """Write a minimal single-sheet .xlsx (header row + data rows).

    Sink analogue of the reference's ``df.to_excel(output_file, index=False)``
    (e164_phone_normalizer.py:613).  Inline strings keep the part
    self-contained; ints/floats become native numeric cells so a re-read
    round-trips them as numbers (the reference relies on the same
    pandas/openpyxl behavior at :385-390).
    """
    body: List[str] = []
    for r, row in enumerate([list(columns)] + [list(x) for x in rows], start=1):
        cells = "".join(
            _cell_xml(f"{_colref(c)}{r}", v) for c, v in enumerate(row)
        )
        body.append(f'<row r="{r}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    # escape() alone leaves double quotes intact, which corrupts the
    # name="..." attribute — quote them too (ADVICE r3)
    safe_name = escape(sheet_name, {'"': "&quot;"})
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{safe_name}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    workbook_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", workbook_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    os.replace(tmp, path)  # atomic publish, same discipline as plans/catalog.py


def _cell_text(c) -> str:
    """Concatenated text of an <is> or <si> (rich-text runs included)."""
    return "".join(t.text or "" for t in c.iter(f"{_NS}t"))


def _parse_number(text: str) -> Any:
    try:
        return int(text)
    except ValueError:
        return float(text)


_NSR = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_NSPR = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _resolve_rel_target(target: str) -> str:
    """Workbook-rels Target → zip part path.  A spec-legal absolute target
    ('/xl/worksheets/sheet1.xml') is already package-rooted — stripping the
    slash IS the part path; only relative targets resolve against xl/
    (with '..' segments collapsed).  The r3 version prefixed 'xl/'
    unconditionally, so absolute targets became 'xl/xl/...' and silently
    fell through to the alphabetically-first worksheet part (ADVICE r3)."""
    if target.startswith("/"):
        return target.lstrip("/")
    out: List[str] = ["xl"]
    for seg in target.split("/"):
        if seg == "..":
            if out:
                out.pop()
        elif seg not in ("", "."):
            out.append(seg)
    return "/".join(out)


def _sheet_part(z: zipfile.ZipFile, sheet: Optional[str]) -> str:
    """Resolve a worksheet part path: by sheet NAME through workbook.xml +
    its rels (the spec-correct route, order-independent), else the
    workbook's first listed sheet; plain part-listing fallback for minimal
    files without a workbook."""
    names = z.namelist()
    if "xl/workbook.xml" in names:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheets = [
            (s.get("name"), s.get(f"{_NSR}id"))
            for s in wb.iter(f"{_NS}sheet")
        ]
        rels = {}
        if "xl/_rels/workbook.xml.rels" in names:
            for r in ET.fromstring(z.read("xl/_rels/workbook.xml.rels")).iter(f"{_NSPR}Relationship"):
                rels[r.get("Id")] = _resolve_rel_target(r.get("Target"))
        if sheets:
            if sheet is not None:
                match = [rid for nm, rid in sheets if nm == sheet]
                if not match:
                    raise ValueError(
                        f"sheet {sheet!r} not found; have {[nm for nm, _ in sheets]}")
                rid = match[0]
            else:
                rid = sheets[0][1]
            if rid in rels and rels[rid] in names:
                return rels[rid]
    parts = sorted(
        n for n in names if n.startswith("xl/worksheets/") and n.endswith(".xml")
    )
    if not parts:
        raise ValueError("no worksheet parts found")
    if sheet is not None:
        raise ValueError(f"sheet {sheet!r} not found (no workbook part)")
    return parts[0]


def read_xlsx(path, sheet: Optional[str] = None) -> Tuple[List[str], List[List[Any]]]:
    """Read a worksheet of an .xlsx → (header columns, data rows).
    ``path`` is a filesystem path or a binary file-like object (the
    distributed ingest hands executors BytesIO over binaryFile content).

    Source analogue of ``pd.read_excel(input_file)``
    (e164_phone_normalizer.py:593): first row is the header, every data row
    is padded/aligned to the header width (sparse cells resolve through
    their ``r="C7"`` references).  Handles inline strings, sharedStrings
    (openpyxl/pandas output), booleans, formula-cached strings and numbers
    (int when integral, else float).  ``sheet`` selects a worksheet by its
    workbook name (default: the workbook's first sheet).
    """
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
        shared: List[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [_cell_text(si) for si in root.iter(f"{_NS}si")]
        root = ET.fromstring(z.read(_sheet_part(z, sheet)))

    raw_rows: List[List[Any]] = []
    for row in root.iter(f"{_NS}row"):
        out: List[Any] = []
        for c in row.iter(f"{_NS}c"):
            ref = c.get("r")
            idx = _colindex(ref) if ref else len(out)
            while len(out) <= idx:
                out.append(None)
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                out[idx] = _cell_text(c)
                continue
            v = c.find(f"{_NS}v")
            if v is None or v.text is None:
                continue
            if ctype == "s":
                out[idx] = shared[int(v.text)]
            elif ctype == "b":
                out[idx] = v.text.strip() == "1"
            elif ctype in ("str", "e"):
                out[idx] = v.text
            else:
                out[idx] = _parse_number(v.text)
        raw_rows.append(out)

    if not raw_rows:
        return [], []
    width = max(len(r) for r in raw_rows)
    raw_rows = [r + [None] * (width - len(r)) for r in raw_rows]
    columns = [
        str(h) if h is not None else f"col{i}"
        for i, h in enumerate(raw_rows[0])
    ]
    return columns, raw_rows[1:]


# ---------------------------------------------------------------------------
# Spark wrappers
# ---------------------------------------------------------------------------

def xlsx_to_dataframe(spark, path: str, schema=None):
    """.xlsx → Spark DataFrame (driver-side parse, then parallelize).

    Without ``schema``, types are inferred from the values (pandas
    object-dtype staging keeps mixed None/str columns stable); pass a DDL
    string or StructType for full control (e.g. all-empty columns).
    """
    columns, rows = read_xlsx(path)
    if schema is not None:
        return spark.createDataFrame(rows, schema=schema)
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=columns, dtype=object)
    # all-None columns carry no type evidence — default them to string
    # (what pd.read_excel + createDataFrame would surface as NaN→null str)
    for col in pdf.columns:
        if pdf[col].isna().all():
            pdf[col] = pdf[col].astype("string")
        elif pdf[col].map(lambda v: isinstance(v, str)).any():
            # text beside numeric cells: Arrow cannot convert the mix, so
            # every cell goes in as its str() text — the string column the
            # row-by-row fallback inferred (84912345678.0 → '84912345678.0')
            pdf[col] = pdf[col].map(lambda v: None if pd.isna(v) else str(v))
    return spark.createDataFrame(pdf)


def xlsx_dir_to_dataframe(spark, path: str, schema, sheet: Optional[str] = None):
    """Distributed many-file .xlsx ingest: ``binaryFile`` source +
    ``mapInPandas`` parse — every workbook opens and parses ON AN EXECUTOR
    (zipfile over the in-memory bytes), so a directory of thousands of
    workbooks scales with the cluster instead of the driver
    (:func:`xlsx_to_dataframe` stays the single-file ops-tool path).

    ``schema`` is required (DDL string or StructType): executors cannot do
    global type inference, and a fixed schema is what makes the output
    stable regardless of per-file column order — parsed columns are
    matched to schema fields BY NAME, missing fields fill null, extra
    parsed columns are dropped."""
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(schema, StructType):
        raise TypeError("schema must be a DDL string or StructType")
    field_names = [f.name for f in schema.fields]

    def parse(batches):
        import io

        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                cols, rows = read_xlsx(io.BytesIO(bytes(content)), sheet=sheet)
                dup = {c for c in cols if cols.count(c) > 1}
                if dup:
                    # by-name matching would silently keep only the LAST
                    # duplicate column's data — refuse instead
                    raise ValueError(
                        f"duplicate header names in workbook: {sorted(dup)}"
                    )
                by_name = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
                n = len(rows)
                yield pd.DataFrame(
                    {f: pd.Series(by_name.get(f, [None] * n), dtype=object)
                     for f in field_names}
                )

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xlsx")
        .load(path)
        .select("content")
        .mapInPandas(parse, schema=schema)
    )


def dataframe_to_xlsx(df, path: str, sheet_name: str = "Sheet1") -> None:
    """Spark DataFrame → single .xlsx sheet (collects — ops-tool scope;
    Excel's own 1,048,576-row sheet cap makes this a small-data sink by
    construction, mirroring the reference's pandas tool)."""
    rows = [list(r) for r in df.collect()]
    write_xlsx(path, df.columns, rows, sheet_name=sheet_name)


# ---------------------------------------------------------------------------
# The reference tool's pipeline, Spark-side
# ---------------------------------------------------------------------------

_PHONEISH = re.compile(r"\d{9,}")


def _detect_phone_column(df, sample: int = 10) -> Optional[str]:
    """First column whose first ``sample`` non-null values contain a ≥9-digit
    run (e164_phone_normalizer.py:366-378) — one bounded driver action."""
    from pyspark.sql import functions as F

    head = df.limit(200).collect()
    for col in df.columns:
        vals = [r[col] for r in head if r[col] is not None][:sample]
        if any(_PHONEISH.search(str(v)) for v in vals):
            return col
    return None


def excel_phone_pipeline(spark, input_path: str, output_path: Optional[str] = None,
                         phone_column: Optional[str] = None):
    """Distributed analogue of ``process_excel_e164``
    (e164_phone_normalizer.py:582-622), minus the external LLM extraction
    step (:402-498 calls a hosted Crawl4AI service — out of scope here, the
    engine's own email/phone kernels already cover page extraction):

    1. read the sheet, autodetect the phone column, coerce numeric cells to
       digit strings (:385-390 drops the float decimal);
    2. split multi-phone cells into one row per normalized E.164 number via
       the vectorized kernel (explode — the distributed step; rows with no
       valid number survive with ``final_phone=''``, :344-352);
    3. write the result back to .xlsx when ``output_path`` is given.

    Returns the result DataFrame (original columns + ``final_phone``).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pcrawler_spark.functions.udfs import normalize_phones_udf

    df = xlsx_to_dataframe(spark, input_path)
    col = phone_column or _detect_phone_column(df)
    if col is None:
        raise ValueError("no phone-bearing column found")

    src = F.col(col)
    if isinstance(df.schema[col].dataType, (T.DoubleType, T.FloatType)):
        src = src.cast("decimal(20,0)").cast("string")  # 84912345678.0 → '84912345678'
    elif not isinstance(df.schema[col].dataType, T.StringType):
        src = src.cast("string")

    out = (
        df.withColumn("final_phone", F.explode_outer(normalize_phones_udf(src)))
        .withColumn("final_phone", F.coalesce(F.col("final_phone"), F.lit("")))
    )
    if output_path is not None:
        dataframe_to_xlsx(out, output_path)
    return out
