"""XLSX workbook source — real, library-free.

Parity: the reference converts an XLSX buffer to
{sheetName: row-object[]} (reference: src/main/index.js:143-159).
Spark-first shape: each sheet becomes a DataFrame.

XLSX is a ZIP of SpreadsheetML XML parts (a public ECMA-376 format),
so stdlib zipfile + ElementTree parse it without openpyxl: workbook.xml
names the sheets, workbook.xml.rels maps them to worksheet parts, each
sheet's <c> cells carry an A1-style ref and either a number, a shared-
string index (t="s"), or an inline string (t="inlineStr"). A minimal
writer (inline strings, one style) produces valid files for tests and
round-trips through this reader and through real spreadsheet apps.

At scale, XLSX parsing is driver-side (or mapInPandas-per-file for many
workbooks) feeding parquet — spreadsheets are small by construction.
A parsed sheet becomes a DataFrame through ``local_frame``: the rows
stay in the JVM as a LocalRelation, so no action on it starts a Python
worker.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cpx_etl_spark.sources.registry import local_frame

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

# The deterministic workbook used by tests and the driver query; written
# to a real .xlsx by write_xlsx and read back by read_xlsx.
FAKE_WORKBOOK: dict[str, tuple[str, list[tuple]]] = {
    "people": (
        "name string, age long, city string",
        [("Alice", 34, "Amsterdam"), ("Bob", 28, "Berlin"), ("Carol", 41, "Cadiz")],
    ),
    "scores": (
        "name string, score double",
        [("Alice", 91.5), ("Bob", 78.0)],
    ),
}


def _col_letters(idx: int) -> str:
    """0-based column index -> A1 letters."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _ref_to_col(ref: str) -> int:
    """A1-style ref -> 0-based column index (case-insensitive)."""
    letters = re.match(r"[A-Za-z]+", ref).group(0).upper()
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def write_xlsx(path: str, sheets: dict[str, tuple[list[str], list[tuple]]]) -> None:
    """Minimal valid .xlsx writer: header + rows per sheet; strings go
    inline (no sharedStrings part needed), numbers as plain <v>, and a
    None cell is left out, so it reads back as NULL."""

    def esc(s: str) -> str:
        # also quote-escape: sheet names land inside double-quoted
        # XML attributes
        return (
            str(s)
            .replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
            .replace('"', "&quot;")
            .replace("'", "&apos;")
        )

    def cell_xml(ref: str, value) -> str:
        if value is None:
            return ""
        if isinstance(value, bool):
            return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
        if isinstance(value, (int, float)):
            return f'<c r="{ref}"><v>{value}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{esc(value)}</t></is></c>'

    names = list(sheets)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        overrides = "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
            'package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f"{overrides}</Types>",
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        sheet_tags = "".join(
            f'<sheet name="{esc(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, n in enumerate(names)
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheet_tags}</sheets></workbook>",
        )
        rels = "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f"{rels}</Relationships>",
        )
        for i, name in enumerate(names):
            header, rows = sheets[name]
            all_rows = [tuple(header)] + [tuple(r) for r in rows]
            rows_xml = "".join(
                f'<row r="{ri + 1}">'
                + "".join(
                    cell_xml(f"{_col_letters(ci)}{ri + 1}", v)
                    for ci, v in enumerate(row)
                )
                + "</row>"
                for ri, row in enumerate(all_rows)
            )
            z.writestr(
                f"xl/worksheets/sheet{i + 1}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{rows_xml}</sheetData></worksheet>",
            )


def _parse_shared_strings(z: zipfile.ZipFile) -> list[str]:
    if "xl/sharedStrings.xml" not in z.namelist():
        return []
    root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    out = []
    for si in root.findall("m:si", _NS):
        out.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))
    return out


def _cell_value(c: ET.Element, shared: list[str]):
    t = c.get("t")
    if t == "inlineStr":
        is_el = c.find("m:is", _NS)
        return "".join(x.text or "" for x in is_el.iter(f"{{{_NS['m']}}}t"))
    v = c.find("m:v", _NS)
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return bool(int(v.text))
    if t == "str":
        return v.text
    if t == "e":
        # Error cell from a real spreadsheet app (#DIV/0!, #N/A, ...):
        # map to NULL so a stray error doesn't smuggle a string into an
        # otherwise-numeric column (mixed-type columns break schema
        # inference far from the cause); warn so the source cell stays
        # traceable.
        import warnings

        warnings.warn(
            f"xlsx: error cell {c.get('r', '?')} ({v.text}) read as NULL",
            stacklevel=2,
        )
        return None
    try:
        # Note: date-styled cells are stored as numbers; they come back as
        # Excel serial floats (no style-table interpretation is attempted).
        return float(v.text)
    except ValueError:
        # untyped non-numeric text (written by tools that skip t="str"):
        # keep it, but warn — the column may become mixed-type
        import warnings

        warnings.warn(
            f"xlsx: untyped non-numeric cell {c.get('r', '?')} kept as text",
            stacklevel=2,
        )
        return v.text


def read_xlsx_tables(path: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Parse every non-empty sheet to (header, rows) — the reference's
    {sheetName: row[]} shape, driver-side."""
    out: dict[str, tuple[list[str], list[tuple]]] = {}
    with zipfile.ZipFile(path) as z:
        shared = _parse_shared_strings(z)
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = {
            rel.get("Id"): rel.get("Target")
            for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        }
        for sheet in wb.find("m:sheets", _NS):
            name = sheet.get("name")
            target = rels[sheet.get(f"{_RNS}id")]
            if not target.startswith("/"):
                target = "xl/" + target
            rows: list[list] = []
            ws = ET.fromstring(z.read(target.lstrip("/")))
            for row in ws.iter(f"{{{_NS['m']}}}row"):
                # the r= cell ref is OPTIONAL in ECMA-376: cells without
                # one occupy the next implicit column position
                cells: dict[int, object] = {}
                next_col = 0
                for c in row.findall("m:c", _NS):
                    ref = c.get("r")
                    ci = _ref_to_col(ref) if ref else next_col
                    cells[ci] = _cell_value(c, shared)
                    next_col = ci + 1
                width = max(cells) + 1 if cells else 0
                rows.append([cells.get(i) for i in range(width)])
            if len(rows) < 2:
                continue
            header = [str(h) for h in rows[0]]
            width = len(header)
            body = [(r + [None] * width)[:width] for r in rows[1:]]
            # Excel stores every number as a double; narrow a column to
            # int only when ALL its values are integral, so each column
            # has one consistent Python type (Spark schema inference
            # cannot merge long and double within a column).
            for ci in range(width):
                vals = [r[ci] for r in body if r[ci] is not None]
                if vals and all(
                    isinstance(v, float) and v.is_integer() for v in vals
                ):
                    for r in body:
                        if r[ci] is not None:
                            r[ci] = int(r[ci])
            out[name] = (header, [tuple(r) for r in body])
    return out


# The Spark type schema inference gives each Python type a cell can read as.
_CELL_TYPES = {bool: BooleanType(), int: LongType(), float: DoubleType(), str: StringType()}


def _sheet_schema(header: list[str], rows: list[tuple]) -> StructType:
    """The schema Spark infers when handed ``rows`` with ``header`` as
    column names: each column takes the one Python type of its values;
    a column with no value, or with two types, raises as inference
    does."""
    fields = []
    for ci, name in enumerate(header):
        kinds = {type(r[ci]) for r in rows if r[ci] is not None}
        if not kinds:
            raise ValueError(f"xlsx: column {name!r} has no value to type it by")
        if len(kinds) > 1:
            raise TypeError(
                f"xlsx: column {name!r} mixes {sorted(k.__name__ for k in kinds)}"
            )
        fields.append(StructField(name, _CELL_TYPES[kinds.pop()]))
    return StructType(fields)


def read_xlsx(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Read every non-empty sheet of an XLSX file into DataFrames."""
    return {
        name: local_frame(spark, rows, _sheet_schema(header, rows))
        for name, (header, rows) in read_xlsx_tables(path).items()
    }


def fake_workbook(spark: SparkSession) -> dict[str, DataFrame]:
    """Deterministic workbook DataFrames (same shape as read_xlsx)."""
    return {
        sheet: local_frame(spark, rows, schema)
        for sheet, (schema, rows) in FAKE_WORKBOOK.items()
    }


def write_fake_workbook(path: str) -> str:
    """Write FAKE_WORKBOOK to a real .xlsx at `path`; returns path."""
    write_xlsx(
        path,
        {
            sheet: ([f.split()[0] for f in schema.split(", ")], rows)
            for sheet, (schema, rows) in FAKE_WORKBOOK.items()
        },
    )
    return path
