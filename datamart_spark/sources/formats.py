"""Format auto-detection + converters-to-CSV (reference S5–S9, S11).

The reference normalizes EVERY dataset to CSV before profiling
(lib_core/datamart_core/materialize.py:87-116 "we always materialize
the CSV file"), with a magic-byte detection chain
(materialize.py:167-263: Excel, Excel97, Stata, SPSS, TSV sniff,
pivot check) and per-format converters registered as entry-point
plugins (lib_materialize/__init__.py:96-127, 232-326).

Spark-first mapping: detection stays a driver-side peek at the file
head (magic bytes are not distributable work); conversion lands in a
DataFrame — delimited files go straight to ``spark.read.csv`` with the
sniffed separator (no CSV round-trip needed), binary stat formats are
decoded via pandas on the driver (these formats are single-small-file
by construction in the reference; a >memory Stata file was never
supported there either).

.xlsx converts with a stdlib-only reader (zipfile + ElementTree — an
xlsx is a zip of XML parts).  The formats the reference reads through
extra libraries are read by in-repo pure-Python readers instead: legacy
.xls (xlrd in the reference) by sources/xls.py and SPSS .sav/.zsav
(pyreadstat) by sources/spss.py.  Both raise a ``ValueError`` subclass
naming the reason on a file they cannot read.
"""

from __future__ import annotations

import csv
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

# magic bytes per lib_core/datamart_core/materialize.py:167-216
_XLSX_MAGIC = b"PK\x03\x04"
_XLS_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_SPSS_MAGIC = (b"\xc1\xe2\xc3\xc9", b"$FL2", b"$FL3")
# Stata: XML header (≥117) or the binary version words the reference
# pins (materialize.py:195-199)
_STATA_XML = b"<stata_dta>"
_STATA_BIN = (
    b"\x73\x01\x01\x00", b"\x73\x02\x01\x00",
    b"\x72\x01\x01\x00", b"\x72\x02\x01\x00",
    b"\x71\x01\x01\x01", b"\x71\x02\x01\x01",
)
_PARQUET_MAGIC = b"PAR1"


def detect_format(path: str, peek_bytes: int = 4096) -> str:
    """S11 detection chain: magic bytes, then delimiter sniff.
    Returns one of excel/excel97/spss/stata/parquet/tsv/csv."""
    with open(path, "rb") as f:
        head = f.read(peek_bytes)
    if head.startswith(_XLSX_MAGIC):
        return "excel"
    if head.startswith(_XLS_MAGIC):
        return "excel97"
    if head.startswith(_SPSS_MAGIC):
        return "spss"
    if head[:11] == _STATA_XML or head[:4] in _STATA_BIN:
        return "stata"
    if head.startswith(_PARQUET_MAGIC):
        return "parquet"
    try:
        text = head.decode("utf-8", errors="replace")
        dialect = csv.Sniffer().sniff(text, delimiters=",\t;|")
        if dialect.delimiter != ",":
            return "tsv"
    except csv.Error:
        pass
    return "csv"


def sniff_delimiter(path: str, peek_bytes: int = 4096) -> str:
    """S7: csv.Sniffer over the file head (materialize.py:217-235)."""
    with open(path, "rb") as f:
        text = f.read(peek_bytes).decode("utf-8", errors="replace")
    try:
        return csv.Sniffer().sniff(text, delimiters=",\t;|").delimiter
    except csv.Error:
        return ","


def tsv_to_csv(src: str, dst: str) -> None:
    """S7 converter (lib_materialize/tsv.py:6-11) — rewrite with the
    sniffed delimiter normalized to comma."""
    sep = sniff_delimiter(src)
    with open(src, newline="") as fin, open(dst, "w", newline="") as fout:
        reader = csv.reader(fin, delimiter=sep)
        writer = csv.writer(fout)
        for row in reader:
            writer.writerow(row)


def stata_to_csv(src: str, dst: str) -> None:
    """S9 converter (lib_materialize/stata.py:6-17): chunked
    pandas.read_stata → CSV (pure pandas, no extra dependency)."""
    first = True
    with pd.read_stata(src, chunksize=10_000) as reader:
        for chunk in reader:
            chunk.to_csv(dst, mode="w" if first else "a", header=first, index=False)
            first = False


# xlsx numFmtIds that render as dates (ECMA-376 §18.8.30 builtins)
_XLSX_DATE_FMT_IDS = frozenset(
    list(range(14, 23)) + list(range(27, 37)) + [45, 46, 47] + list(range(50, 59))
)


def _xlsx_is_date_fmt(code: str) -> bool:
    """Custom format code → is it a date/time format?  Strip quoted
    literals, backslash escapes and [] sections, then look for
    date/time tokens (the same heuristic openpyxl uses)."""
    import re

    bare = re.sub(r'"[^"]*"|\\.|\[[^\]]*\]', "", code)
    return bool(re.search(r"[ymdhs]", bare, re.IGNORECASE))


def _xlsx_serial_to_iso(serial: float, date1904: bool) -> str:
    """Excel serial date → ISO-8601 (xlrd.xldate_as_datetime parity:
    1900 system epoch 1899-12-30 absorbing the Lotus leap-year bug;
    1904 system epoch 1904-01-01)."""
    import datetime as dt

    epoch = dt.datetime(1904, 1, 1) if date1904 else dt.datetime(1899, 12, 30)
    return (epoch + dt.timedelta(days=serial)).isoformat()


def xlsx_to_csv(src: str, dst: str) -> None:
    """S6 converter, stdlib-only: an .xlsx is a zip of XML parts —
    ``zipfile`` + ``ElementTree`` read sharedStrings, styles (for date
    formats) and the single sheet.  Output matches the reference's
    xlrd-based converter (lib_materialize/excel.py:8-31): exactly one
    sheet required, dates → ISO-8601, numbers via '%g' (no forced
    decimal point on integers)."""
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
          "r": "http://schemas.openxmlformats.org/officeDocument/2006/relationships"}
    rns = {"p": "http://schemas.openxmlformats.org/package/2006/relationships"}

    with zipfile.ZipFile(src) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        pr = wb.find("m:workbookPr", ns)
        date1904 = pr is not None and pr.get("date1904") in ("1", "true")
        sheets = wb.findall("m:sheets/m:sheet", ns)
        if len(sheets) != 1:
            raise ValueError("Excel workbook has %d sheets" % len(sheets))
        rid = sheets[0].get(
            "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        )
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = next(
            rel.get("Target") for rel in rels.findall("p:Relationship", rns)
            if rel.get("Id") == rid
        )
        sheet_path = "xl/" + target.lstrip("/").removeprefix("xl/")

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sst.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"
                )))

        # style index → is-date (cellXfs xf order = cell s attribute)
        date_style: list[bool] = []
        if "xl/styles.xml" in z.namelist():
            st = ET.fromstring(z.read("xl/styles.xml"))
            custom = {
                int(f.get("numFmtId")): f.get("formatCode", "")
                for f in st.findall("m:numFmts/m:numFmt", ns)
            }
            for xf in st.findall("m:cellXfs/m:xf", ns):
                fid = int(xf.get("numFmtId", "0"))
                date_style.append(
                    fid in _XLSX_DATE_FMT_IDS
                    or (fid in custom and _xlsx_is_date_fmt(custom[fid]))
                )

        def col_index(ref: str) -> int:
            i = 0
            for ch in ref:
                if ch.isdigit():
                    break
                i = i * 26 + (ord(ch) - 64)
            return i - 1

        rows: list[list[str]] = []
        sheet = ET.fromstring(z.read(sheet_path))
        for row in sheet.find("m:sheetData", ns) or ():
            # sparse sheets omit wholly-empty <row> elements; xlrd pads
            # every row up to nrows, so honor the 1-based r attribute
            # and emit empty rows for the gaps (ADVICE r3 — otherwise
            # row indices shift relative to the reference output)
            r_attr = row.get("r")
            if r_attr is not None:
                while len(rows) < int(r_attr) - 1:
                    rows.append([])
            values: list[str] = []
            for c in row.findall("m:c", ns):
                idx = col_index(c.get("r", "")) if c.get("r") else len(values)
                while len(values) <= idx:
                    values.append("")
                t = c.get("t", "n")
                if t == "inlineStr":
                    is_el = c.find("m:is", ns)
                    v = "".join(
                        el.text or "" for el in (is_el.iter() if is_el is not None else ())
                        if el.tag.endswith("}t")
                    )
                else:
                    v_el = c.find("m:v", ns)
                    raw = v_el.text if v_el is not None and v_el.text else ""
                    if t == "s":
                        v = shared[int(raw)] if raw else ""
                    elif t in ("str", "e"):
                        v = raw
                    elif t == "b":
                        v = "1" if raw == "1" else "0"
                    elif raw == "":
                        v = ""
                    else:  # numeric
                        num = float(raw)
                        s_idx = int(c.get("s", "-1"))
                        if 0 <= s_idx < len(date_style) and date_style[s_idx]:
                            v = _xlsx_serial_to_iso(num, date1904)
                        else:
                            v = "%g" % num
                values[idx] = v
            rows.append(values)

    width = max((len(r) for r in rows), default=0)
    with open(dst, "w", newline="") as fout:
        writer = csv.writer(fout)
        for r in rows:
            writer.writerow(r + [""] * (width - len(r)))


def excel_to_csv(src: str, dst: str) -> None:
    """S6 converter (reference lib_materialize/excel.py:8-31): .xlsx via
    the stdlib zip+XML reader above; legacy .xls (BIFF8 inside an OLE2
    compound file) via the in-repo pure-Python reader (sources/xls.py) —
    both publicly documented formats ([MS-CFB]/[MS-XLS])."""
    with open(src, "rb") as f:
        head = f.read(8)
    if head.startswith(_XLSX_MAGIC):
        return xlsx_to_csv(src, dst)
    from .xls import xls_to_csv

    return xls_to_csv(src, dst)


def spss_to_csv(src: str, dst: str) -> None:
    """S8 converter (reference: lib_materialize/spss.py:6-13, pyreadstat
    + '%g'/CRLF to_csv) — REAL via the in-repo pure-Python system-file
    reader (sources/spss.py; the format is publicly documented in the
    PSPP manual); unsupported variants raise with the reason."""
    from .spss import sav_to_csv

    sav_to_csv(src, dst)


#: S5 plugin-registry analog (lib_materialize/__init__.py:96-127):
#: format name → CSV converter; extend by assignment, exactly like the
#: reference's entry-point groups.
CONVERTERS: dict[str, Callable[[str, str], None]] = {
    "tsv": tsv_to_csv,
    "stata": stata_to_csv,
    "excel": excel_to_csv,
    "excel97": excel_to_csv,
    "spss": spss_to_csv,
}


def read_auto(spark: SparkSession, path: str, all_string: bool = True) -> DataFrame:
    """S1/S11 entry: detect the format and land a DataFrame.  Delimited
    files skip the CSV round-trip (spark.read.csv with the sniffed
    separator — distributed scan); binary stat formats convert via the
    registry to a temp CSV first.  ``all_string=True`` mirrors the
    reference's everything-is-a-string ingest (lib_profiler
    core.py:210-217) so type inference stays in the profiler."""
    import tempfile

    fmt = detect_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt in ("csv", "tsv"):
        sep = "," if fmt == "csv" else sniff_delimiter(path)
        return spark.read.csv(
            path, header=True, sep=sep,
            inferSchema=not all_string, enforceSchema=False,
        )
    conv = CONVERTERS[fmt]
    tmp = tempfile.mktemp(suffix=".csv", prefix=f"datamart_{fmt}_")
    conv(path, tmp)
    df = spark.read.csv(tmp, header=True, inferSchema=not all_string)
    # temp CSV is left for the executor scan; caller owns cleanup of
    # tempdir lifecycles (the reference caches converted CSVs the same
    # way, fscache.py:202-280)
    return df


def looks_pivoted(columns: list[str]) -> bool:
    """S10 trigger (lib_core/materialize.py:244-248, exact rule): a
    header of ≥3 columns where at most max(2, 20%·n) column names fail
    to parse as dates is a wide-pivoted table and should be melted
    (operators.discovery.unpivot_wide_years)."""
    import re

    datish = re.compile(r"^\s*\d{4}([-/ .]\d{1,2}([-/ .]\d{1,2})?)?\s*$")
    if len(columns) < 3:
        return False
    non_matches = sum(1 for c in columns if not datish.match(c))
    return non_matches <= max(2.0, 0.20 * len(columns))
