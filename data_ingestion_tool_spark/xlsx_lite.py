"""Minimal pure-stdlib xlsx engine (zip + SpreadsheetML XML).

The reference parses/writes workbooks with openpyxl via pandas
(box_ingest.py:152-156, box_export.py:34-48). This module is the
engine's one Excel implementation, for both directions: the small
subset of OOXML the engine needs, with zero dependencies beyond the
stdlib, so a workbook reads and writes the same on every host:

- :func:`parse_xlsx` — workbook bytes → ``pandas.DataFrame``: sheet
  selection by name, ``skip_rows``, shared/inline/plain strings,
  booleans, numeric int/float inference to match pandas' CSV reader.
- :func:`write_xlsx` — ``pandas.DataFrame`` → a valid workbook readable
  by Excel/openpyxl/this parser (inline strings; one sheet).

Cells arrive as their stored values: styles are not read, so a
date-styled cell is its Excel serial number.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


class XlsxFormatError(ValueError):
    """Raised when bytes are not a parseable xlsx workbook."""


def _col_index(cell_ref: str) -> int:
    """'BC12' → 0-based column index 54."""
    n = 0
    for ch in cell_ref:
        if ch.isdigit():
            break
        n = n * 26 + (ord(ch.upper()) - 64)
    return n - 1


def _col_name(idx: int) -> str:
    """0-based column index → 'A', 'Z', 'AA', ..."""
    name = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        name = chr(65 + rem) + name
    return name


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(raw).iter(f"{_NS}si"):
        # concatenate all <t> descendants (plain and rich-text runs)
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_target(zf: zipfile.ZipFile, sheet_name: str | None) -> str:
    """Resolve the worksheet part path for ``sheet_name`` (or the first
    sheet) via workbook.xml + its relationships."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{_PKG_REL_NS}Relationship")
    }
    sheets = list(wb.iter(f"{_NS}sheet"))
    if not sheets:
        raise XlsxFormatError("workbook has no sheets")
    chosen = None
    if sheet_name is None:
        chosen = sheets[0]
    else:
        for sh in sheets:
            if sh.get("name") == sheet_name:
                chosen = sh
                break
        if chosen is None:
            names = [sh.get("name") for sh in sheets]
            raise XlsxFormatError(f"no sheet named {sheet_name!r}; have {names}")
    target = rid_to_target[chosen.get(f"{_REL_NS}id")]
    if target.startswith("/"):
        return target.lstrip("/")
    return "xl/" + target


def _cell_value(cell: ET.Element, shared: list[str]):
    t = cell.get("t")
    if t == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        return (
            "".join(tt.text or "" for tt in is_el.iter(f"{_NS}t"))
            if is_el is not None
            else None
        )
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return v.text == "1"
    if t == "str":  # formula cached string result
        return v.text
    return v.text  # numeric-as-text; column inference handles it


_INT_RE = re.compile(r"^-?\d+$")
_FLOAT_RE = re.compile(
    r"^-?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$"
)


def _infer_column(values: list):
    """pandas-read_csv-flavored inference: all-int → int64 (object with
    NaN holes), all-numeric → float64, else leave as object."""
    present = [v for v in values if v is not None]
    if present and all(isinstance(v, str) and _INT_RE.match(v) for v in present):
        if any(v is None for v in values):
            return [float(v) if v is not None else float("nan") for v in values]
        return [int(v) for v in values]
    if present and all(
        isinstance(v, str) and _FLOAT_RE.match(v) for v in present
    ):
        return [float(v) if v is not None else float("nan") for v in values]
    return values


def parse_xlsx(
    content: bytes,
    sheet_name: str | None = None,
    skip_rows: int | None = None,
) -> pd.DataFrame:
    """Workbook bytes → DataFrame. First non-skipped row is the header
    (reference parity with ``pd.read_excel(..., skiprows=...)``)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        target = _sheet_target(zf, sheet_name)
        shared = _shared_strings(zf)
        sheet = ET.fromstring(zf.read(target))
    except (zipfile.BadZipFile, KeyError, ET.ParseError) as exc:
        raise XlsxFormatError(f"not a parseable xlsx workbook: {exc}") from exc

    rows: list[dict[int, object]] = []
    max_col = -1
    for row in sheet.iter(f"{_NS}row"):
        cells: dict[int, object] = {}
        for idx, cell in enumerate(row.iter(f"{_NS}c")):
            ref = cell.get("r")
            ci = _col_index(ref) if ref else idx
            cells[ci] = _cell_value(cell, shared)
            max_col = max(max_col, ci)
        rows.append(cells)
    rows = rows[skip_rows or 0 :]
    if not rows:
        return pd.DataFrame()
    width = max_col + 1
    header = [rows[0].get(i) for i in range(width)]
    header = [str(h) if h is not None else f"col{i}" for i, h in enumerate(header)]
    body = rows[1:]
    cols = {}
    for i, name in enumerate(header):
        cols[name] = _infer_column([r.get(i) for r in body])
    return pd.DataFrame(cols, columns=header)


_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _workbook_xml(sheet_name: str) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{escape(sheet_name)}" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )


def _cell_xml(ref: str, value) -> str:
    if value is None or (isinstance(value, float) and value != value):
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    text = escape(str(value))
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{text}</t></is></c>'


def write_xlsx(
    pdf: pd.DataFrame, path_or_buf, sheet_name: str = "Sheet1"
) -> None:
    """DataFrame → one-sheet xlsx (header row + values, index dropped —
    reference parity with ``to_excel(..., index=False)``)."""
    out_rows = []
    header_cells = "".join(
        _cell_xml(f"{_col_name(i)}1", str(c)) for i, c in enumerate(pdf.columns)
    )
    out_rows.append(f'<row r="1">{header_cells}</row>')
    # column zip, not iterrows: no per-row Series construction
    for rix, row in enumerate(
        zip(*(pdf[c].tolist() for c in pdf.columns)), start=2
    ):
        cells = "".join(
            _cell_xml(f"{_col_name(i)}{rix}", _plain(v))
            for i, v in enumerate(row)
        )
        out_rows.append(f'<row r="{rix}">{cells}</row>')
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(out_rows)}</sheetData></worksheet>"
    )
    close = False
    if isinstance(path_or_buf, (str, bytes)):
        buf = open(path_or_buf, "wb")
        close = True
    else:
        buf = path_or_buf
    try:
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
            zf.writestr("_rels/.rels", _ROOT_RELS)
            zf.writestr("xl/workbook.xml", _workbook_xml(sheet_name))
            zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
            zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    finally:
        if close:
            buf.close()


def _plain(v):
    """numpy scalars → python scalars so _cell_xml type checks work."""
    if hasattr(v, "item"):
        try:
            return v.item()
        except Exception:
            return v
    return v
