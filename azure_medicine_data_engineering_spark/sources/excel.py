"""Excel ingress (SURVEY §2.1 S3) — pure-stdlib xlsx reader.

Parity: the reference's first pipeline step copies an Excel workbook into the
lake before any Spark processing (``Pipeline 1.json:114-168``, Excel dataset
``dataset/Excel1.json``). xlsx is a ZIP of XML parts, so ingestion needs no
third-party library: ``zipfile`` + ``xml.etree`` parse the workbook,
shared-strings table, and worksheet cells; rows land in a Spark DataFrame.

Scale note: Excel is inherently a small-file, driver-side format (config
workbooks, hand-maintained code lists — the reference's use case). The
driver parses once and hands the rows to the JVM as one Arrow table;
large-data ingress belongs in parquet/CSV readers (``sources/readers.py``).
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession

from azure_medicine_data_engineering_spark.sources.readers import from_rows

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _cell_value(cell, shared: list[str]):
    ctype = cell.get("t", "n")
    v = cell.find(f"{_NS}v")
    if ctype == "inlineStr":
        t = cell.find(f"{_NS}is/{_NS}t")
        return t.text if t is not None else None
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "b":
        return v.text == "1"
    if ctype == "str":
        return v.text
    # numeric: keep ints as ints, everything else as float
    txt = v.text
    if re.fullmatch(r"-?\d+", txt):
        return int(txt)
    return float(txt)


def read_xlsx_rows(path: str, sheet: str | None = None) -> list[list]:
    """Parse one worksheet into a dense list of rows (None-padded to the
    widest row). ``sheet`` selects by name; default is the first sheet."""
    with zipfile.ZipFile(path) as z:
        # shared strings (optional part)
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ElementTree.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        # sheet name -> relationship id -> worksheet part
        wb = ElementTree.fromstring(z.read("xl/workbook.xml"))
        rels = ElementTree.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target").lstrip("/")
            for r in rels.findall(f"{_PKG_REL_NS}Relationship")
        }
        target = None
        for s in wb.find(f"{_NS}sheets").findall(f"{_NS}sheet"):
            if sheet is None or s.get("name") == sheet:
                target = rel_target[s.get(f"{_REL_NS}id")]
                break
        if target is None:
            raise ValueError(f"sheet {sheet!r} not found in {path}")
        if not target.startswith("xl/"):
            target = f"xl/{target}"
        ws = ElementTree.fromstring(z.read(target))

    rows: list[list] = []
    for row in ws.iter(f"{_NS}row"):
        values: dict[int, object] = {}
        for cell in row.findall(f"{_NS}c"):
            ref = cell.get("r")
            ci = _col_index(ref) if ref else len(values)
            values[ci] = _cell_value(cell, shared)
        width = max(values) + 1 if values else 0
        rows.append([values.get(i) for i in range(width)])
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def excel_to_df(
    spark: SparkSession,
    path: str,
    sheet: str | None = None,
    header: bool = True,
) -> DataFrame:
    """S3 ingress: worksheet → DataFrame. With ``header`` the first row
    names the columns (sanitized); otherwise columns are col_0..col_N.
    Types are inferred by Spark from the parsed Python values; mixed
    numeric/string columns are stringified first (Excel's untyped reality)."""
    rows = read_xlsx_rows(path, sheet)
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    if header:
        names = [
            re.sub(r"[^A-Za-z0-9_]", "_", str(h)) if h is not None else f"col_{i}"
            for i, h in enumerate(rows[0])
        ]
        data = rows[1:]
    else:
        names = [f"col_{i}" for i in range(len(rows[0]))]
        data = rows
    # explicit schema from observed value types (inference would choke on
    # all-empty columns); mixed non-numeric columns fall back to string
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    n_cols = len(names)
    col_types = [set() for _ in range(n_cols)]
    for r in data:
        for i in range(n_cols):
            if r[i] is not None:
                col_types[i].add(type(r[i]))

    def spark_type(ts):
        if ts == {int}:
            return LongType()
        if ts == {float} or ts == {int, float}:
            return DoubleType()
        if ts == {bool}:
            return BooleanType()
        return StringType()

    types = [spark_type(ts) for ts in col_types]
    harmonized = []
    for r in data:
        out = []
        for i in range(n_cols):
            v = r[i]
            if v is None:
                out.append(None)
            elif isinstance(types[i], DoubleType):
                out.append(float(v))
            elif isinstance(types[i], StringType):
                out.append(str(v))
            else:
                out.append(v)
        harmonized.append(out)
    schema = StructType(
        [StructField(n, t, nullable=True) for n, t in zip(names, types)]
    )
    return from_rows(spark, harmonized, schema)
