"""Format detection/conversion (S5-S9, S11) and writers (S15)."""

import csv
import json
import os

import pandas as pd
import pytest

from datamart_spark.sources import (
    CONVERTERS,
    CsvWriter,
    D3mWriter,
    PandasWriter,
    detect_format,
    read_auto,
    sniff_delimiter,
    tsv_to_csv,
)
from datamart_spark.sources.formats import looks_pivoted


@pytest.fixture()
def files(tmp_path):
    csv_p = tmp_path / "a.csv"
    csv_p.write_text("name,age\nalice,3\nbob,4\n")
    tsv_p = tmp_path / "b.tsv"
    tsv_p.write_text("name\tage\nalice\t3\nbob\t4\n")
    semi_p = tmp_path / "c.txt"
    semi_p.write_text("name;age\nalice;3\nbob;4\n")
    dta_p = tmp_path / "d.dta"
    pd.DataFrame({"name": ["alice", "bob"], "age": [3, 4]}).to_stata(
        dta_p, write_index=False
    )
    xlsx_p = tmp_path / "e.xlsx"
    xlsx_p.write_bytes(b"PK\x03\x04" + b"\x00" * 64)
    sav_p = tmp_path / "f.sav"
    sav_p.write_bytes(b"$FL2" + b"\x00" * 64)
    return {"csv": csv_p, "tsv": tsv_p, "semi": semi_p, "stata": dta_p,
            "excel": xlsx_p, "spss": sav_p}


def test_detect_format_chain(files):
    assert detect_format(str(files["csv"])) == "csv"
    assert detect_format(str(files["tsv"])) == "tsv"
    assert detect_format(str(files["semi"])) == "tsv"  # non-comma delimited
    assert detect_format(str(files["stata"])) == "stata"
    assert detect_format(str(files["excel"])) == "excel"
    assert detect_format(str(files["spss"])) == "spss"


def test_sniff_and_tsv_to_csv(files, tmp_path):
    assert sniff_delimiter(str(files["tsv"])) == "\t"
    assert sniff_delimiter(str(files["semi"])) == ";"
    out = tmp_path / "out.csv"
    tsv_to_csv(str(files["tsv"]), str(out))
    rows = list(csv.reader(open(out)))
    assert rows == [["name", "age"], ["alice", "3"], ["bob", "4"]]


def test_stata_roundtrip_via_read_auto(spark, files):
    df = read_auto(spark, str(files["stata"]))
    got = {r["name"]: r["age"] for r in df.collect()}
    assert got == {"alice": "3", "bob": "4"}  # all-string ingest


def test_read_auto_delimited(spark, files):
    for key in ("csv", "tsv", "semi"):
        df = read_auto(spark, str(files[key]))
        assert df.columns == ["name", "age"]
        assert df.count() == 2


def test_unavailable_converters_raise_cleanly(files, tmp_path):
    # a truncated OLE2 container fails with a clean format error
    from datamart_spark.sources.xls import XlsError

    xls_p = tmp_path / "legacy.xls"
    xls_p.write_bytes(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64)
    with pytest.raises((XlsError, ValueError)):
        CONVERTERS["excel97"](str(xls_p), str(tmp_path / "x.csv"))
    # a truncated zsav fails with a clean zsav error, not a struct crash
    from datamart_spark.sources.spss import SavError

    zsav = tmp_path / "z.zsav"
    zsav.write_bytes(b"$FL3" + b"\x00" * 64)
    with pytest.raises(SavError):
        CONVERTERS["spss"](str(zsav), str(tmp_path / "z.csv"))


def _write_min_sav(path, compressed=True, zsav=False):
    """Hand-built SPSS system file (no SPSS writer lib in the sandbox):
    numeric F8.0/F8.2, a 12-char string spanning two 8-byte segments
    (continuation variable record), a DATE column, a long-variable-names
    extension record, and — when compressed — every bytecode command:
    small-int bias codes, 253 literals, 254 all-spaces, 255 sysmis.
    ``zsav=True`` wraps the (bytecode-compressed) case data in the $FL3
    ZLIB data record, split across TWO zlib blocks with a descriptor
    trailer — the multi-block path a real writer produces."""
    import datetime as dt
    import struct
    import zlib

    if zsav:
        compressed = True  # zsav case data is always the bytecode form

    def pad(b, n, fill=b" "):
        return b + fill * (n - len(b))

    out = bytearray()
    out += (b"$FL3" if zsav else b"$FL2") + pad(b"@(#) TEST", 60)
    out += struct.pack("<iiiii", 2, 5, 2 if zsav else (1 if compressed else 0),
                       0, 3)
    out += struct.pack("<d", 100.0)
    out += pad(b"01 Jan 26", 9) + pad(b"00:00:00", 8)
    out += pad(b"test file", 64) + b"\x00" * 3

    def var(vtype, fmt_type, fmt_w, fmt_d, name, label=None):
        fmt = (fmt_type << 16) | (fmt_w << 8) | fmt_d
        b = struct.pack("<iiiii", 2, vtype, 1 if label else 0, 0, fmt)
        b += struct.pack("<i", fmt)
        b += pad(name.encode(), 8)
        if label:
            lb = label.encode()
            b += struct.pack("<i", len(lb))
            b += pad(lb, (len(lb) + 3) // 4 * 4, b"\x00")
        return b

    out += var(0, 5, 8, 0, "ID")
    out += var(0, 5, 8, 2, "SCORE", "the score")
    out += var(12, 1, 12, 0, "NAME")
    out += var(-1, 1, 12, 0, "")  # wide-string continuation
    out += var(0, 20, 11, 0, "WHEN")
    ln = b"WHEN=when_date\tSCORE=score"
    out += struct.pack("<iiii", 7, 13, 1, len(ln)) + ln
    out += struct.pack("<ii", 999, 0)

    d0 = (dt.datetime(2021, 1, 2) - dt.datetime(1582, 10, 14)).total_seconds()
    case = bytearray()
    if compressed:
        lit, cmds = [], []

        def emit(code, payload=None):
            cmds.append(code)
            if payload is not None:
                lit.append(payload)

        emit(101)                                  # id = 1 (code - bias)
        emit(253, struct.pack("<d", 2.5))          # score literal
        emit(253, pad(b"alice", 8))                # name seg 1
        emit(254)                                  # name seg 2 = spaces
        emit(253, struct.pack("<d", d0))           # DATE literal
        emit(142)                                  # id = 42
        emit(255)                                  # score sysmis
        emit(253, pad(b"bob over", 8))
        emit(253, pad(b"flow", 8))                 # -> "bob overflow"
        emit(253, struct.pack("<d", d0 + 86400))
        emit(99)                                   # id = -1
        emit(100)                                  # score = 0
        emit(254)
        emit(254)                                  # name all spaces -> ""
        emit(255)                                  # DATE sysmis
        emit(252)                                  # end of data
        i = li = 0
        while i < len(cmds):
            grp = cmds[i:i + 8]
            case += bytes(grp) + b"\x00" * (8 - len(grp))
            for c in grp:
                if c == 253:
                    case += lit[li]
                    li += 1
            i += 8
    else:
        sysmis = struct.pack("<d", float("-1.7976931348623157e+308"))
        for row in (
            [struct.pack("<d", 1.0), struct.pack("<d", 2.5),
             pad(b"alice", 8), b" " * 8, struct.pack("<d", d0)],
            [struct.pack("<d", 42.0), sysmis,
             pad(b"bob over", 8), pad(b"flow", 8),
             struct.pack("<d", d0 + 86400)],
            [struct.pack("<d", -1.0), struct.pack("<d", 0.0),
             b" " * 8, b" " * 8, sysmis],
        ):
            for el in row:
                case += el
    if zsav:
        # $FL3 ZLIB data record: 24-byte header, independent zlib
        # streams, descriptor trailer — two blocks, split on an 8-byte
        # element boundary
        zpos = len(out)
        half = max(8, (len(case) // 2) // 8 * 8)
        blocks = [bytes(case[:half]), bytes(case[half:])]
        blocks = [b for b in blocks if b]
        comp = [zlib.compress(b) for b in blocks]
        ztrailer_ofs = zpos + 24 + sum(len(c) for c in comp)
        ztrailer_len = 24 + 24 * len(blocks)
        out += struct.pack("<qqq", zpos, ztrailer_ofs, ztrailer_len)
        descs = []
        cofs = zpos + 24
        uofs = zpos + 24
        for b, c in zip(blocks, comp):
            descs.append((uofs, cofs, len(b), len(c)))
            out += c
            uofs += len(b)
            cofs += len(c)
        out += struct.pack("<qqii", -100, 0, 0x3FF000, len(blocks))
        for desc in descs:
            out += struct.pack("<qqii", *desc)
    else:
        out += case
    with open(path, "wb") as f:
        f.write(bytes(out))


_SAV_EXPECT = (
    "ID,score,NAME,when_date\r\n"
    "1,2.5,alice,2021-01-02\r\n"
    "42,,bob overflow,2021-01-03\r\n"
    "-1,0,,\r\n"
)


def test_zsav_to_csv_roundtrip(tmp_path):
    """S8 zsav variant: $FL3 ZLIB-framed case data (two independent
    zlib blocks + descriptor trailer, PSPP manual) must decode to the
    same CSV as the equivalent $FL2 file."""
    src = tmp_path / "m.zsav"
    _write_min_sav(str(src), zsav=True)
    assert detect_format(str(src)) == "spss"
    dst = tmp_path / "m.csv"
    CONVERTERS["spss"](str(src), str(dst))
    assert open(dst, "rb").read().decode() == _SAV_EXPECT


def test_zsav_corrupt_block_raises_cleanly(tmp_path):
    from datamart_spark.sources.spss import SavError

    src = tmp_path / "c.zsav"
    _write_min_sav(str(src), zsav=True)
    raw = bytearray(src.read_bytes())
    # trailer = 24 + 2×24 bytes; flip a byte inside the last zlib
    # stream, just before the trailer — the adler32 check must trip
    raw[len(raw) - 72 - 5] ^= 0xFF
    src.write_bytes(bytes(raw))
    with pytest.raises(SavError):
        CONVERTERS["spss"](str(src), str(tmp_path / "c.csv"))


def test_sav_allspaces_numeric_is_sysmis(tmp_path):
    """ADVICE r4 (low): compression code 254 (all-spaces element) on a
    NUMERIC variable — malformed/unusual, but representable — must read
    as system-missing, not as the 8 space bytes unpacked into the
    garbage double ~7.3e228."""
    import struct

    def pad(b, n, fill=b" "):
        return b + fill * (n - len(b))

    out = bytearray()
    out += b"$FL2" + pad(b"@(#) TEST", 60)
    out += struct.pack("<iiiii", 2, 1, 1, 0, 2)  # 1 var, compressed, 2 cases
    out += struct.pack("<d", 100.0)
    out += pad(b"01 Jan 26", 9) + pad(b"00:00:00", 8)
    out += pad(b"test file", 64) + b"\x00" * 3
    fmt = (5 << 16) | (8 << 8)
    out += struct.pack("<iiiii", 2, 0, 0, 0, fmt) + struct.pack("<i", fmt)
    out += pad(b"X", 8)
    out += struct.pack("<ii", 999, 0)
    out += bytes([101, 254, 252, 0, 0, 0, 0, 0])  # X=1; X=<spaces>; EOF
    src = tmp_path / "sp.sav"
    src.write_bytes(bytes(out))

    dst = tmp_path / "sp.csv"
    CONVERTERS["spss"](str(src), str(dst))
    # the lone empty field is quoted ("") — csv's disambiguation from a
    # blank line; the point is: system-missing, not 7.3e228
    assert open(dst, "rb").read().decode() == 'X\r\n1\r\n""\r\n'


@pytest.mark.parametrize("compressed", [True, False])
def test_sav_to_csv_stdlib(tmp_path, compressed):
    """S8 real converter (reference parity lib_materialize/spss.py:6-13):
    '%g' numerics, empty system-missing cells, wide strings reassembled
    across segments, DATE columns as ISO dates, long variable names,
    CRLF line endings — for both bytecode-compressed and raw files."""
    src = tmp_path / "m.sav"
    _write_min_sav(str(src), compressed=compressed)
    assert detect_format(str(src)) == "spss"
    dst = tmp_path / "m.csv"
    CONVERTERS["spss"](str(src), str(dst))
    assert open(dst, "rb").read().decode() == _SAV_EXPECT


def test_sav_read_auto_roundtrip(spark, tmp_path):
    src = tmp_path / "r.sav"
    _write_min_sav(str(src))
    df = read_auto(spark, str(src))
    assert df.columns == ["ID", "score", "NAME", "when_date"]
    got = {r["ID"]: (r["score"], r["NAME"], r["when_date"]) for r in df.collect()}
    assert got == {
        "1": ("2.5", "alice", "2021-01-02"),
        "42": (None, "bob overflow", "2021-01-03"),
        "-1": ("0", None, None),
    }


def _write_min_xlsx(path, date1904=False):
    """Hand-built minimal xlsx (no Excel writer lib in the sandbox):
    header via sharedStrings, one data row exercising shared string,
    builtin-date style, custom-date style, float, int, bool, inline
    string and a column gap."""
    import zipfile

    wb = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <workbookPr{d1904}/><sheets><sheet name="s1" sheetId="1" r:id="rId1"/></sheets>
</workbook>""".format(d1904=' date1904="1"' if date1904 else "")
    rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1"
  Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
  Target="worksheets/sheet1.xml"/>
</Relationships>"""
    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\\-mm\\-dd"/></numFmts>
 <cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/></cellXfs>
</styleSheet>"""
    sst = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
 <si><t>name</t></si><si><t>when</t></si><si><t>score</t></si><si><t>al</t><t>ice</t></si>
</sst>"""
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
  <row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2" s="1"><v>44197</v></c><c r="C2"><v>2.5</v></c><c r="D2"><v>42</v></c></row>
  <row r="3"><c r="A3" t="inlineStr"><is><t>bob</t></is></c><c r="B3" s="2"><v>44198.5</v></c><c r="D3" t="b"><v>1</v></c></row>
 </sheetData>
</worksheet>"""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/styles.xml", styles)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_xlsx_to_csv_stdlib(tmp_path):
    """S6 real converter: reference parity (lib_materialize/excel.py:
    8-31) — single sheet, ISO-8601 dates, '%g' numbers."""
    src = tmp_path / "m.xlsx"
    _write_min_xlsx(str(src))
    assert detect_format(str(src)) == "excel"
    dst = tmp_path / "m.csv"
    CONVERTERS["excel"](str(src), str(dst))
    rows = list(csv.reader(open(dst)))
    assert rows == [
        ["name", "when", "score", ""],
        ["alice", "2021-01-01T00:00:00", "2.5", "42"],
        ["bob", "2021-01-02T12:00:00", "", "1"],
    ]


def test_xlsx_sparse_rows_padded(tmp_path):
    """ADVICE r3: wholly-absent <row> elements (sparse sheets) must
    emit empty CSV rows — xlrd pads to nrows, so row indices in the
    output must not shift relative to the reference converter."""
    import zipfile

    src = tmp_path / "sp.xlsx"
    _write_min_xlsx(str(src))
    with zipfile.ZipFile(src) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>2</v></c></row>
  <row r="4"><c r="A4" t="inlineStr"><is><t>bob</t></is></c><c r="B4"><v>7</v></c></row>
 </sheetData>
</worksheet>"""
    with zipfile.ZipFile(src, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    dst = tmp_path / "sp.csv"
    CONVERTERS["excel"](str(src), str(dst))
    rows = list(csv.reader(open(dst)))
    assert rows == [
        ["name", "score"],
        ["", ""],
        ["", ""],
        ["bob", "7"],
    ]


def test_xlsx_multi_sheet_rejected(tmp_path):
    import zipfile

    src = tmp_path / "two.xlsx"
    _write_min_xlsx(str(src))
    # append a second sheet entry to the workbook
    import re as _re
    with zipfile.ZipFile(src) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/workbook.xml"] = _re.sub(
        rb"</sheets>",
        b'<sheet name="s2" sheetId="2" r:id="rId2"/></sheets>',
        parts["xl/workbook.xml"],
    )
    with zipfile.ZipFile(src, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    with pytest.raises(ValueError, match="2 sheets"):
        CONVERTERS["excel"](str(src), str(tmp_path / "t.csv"))


def test_xlsx_read_auto_roundtrip(spark, tmp_path):
    src = tmp_path / "r.xlsx"
    _write_min_xlsx(str(src))
    df = read_auto(spark, str(src))
    got = {r["name"]: r["score"] for r in df.collect()}
    assert got == {"alice": "2.5", "bob": None}


def test_looks_pivoted():
    # reference rule (materialize.py:244-248): ≥3 columns, non-date
    # column count ≤ max(2, 20%·n)
    assert looks_pivoted(["country", "2001", "2002", "2003"])
    assert looks_pivoted(["country", "gdp", "2001"])  # 2 non-dates allowed
    assert not looks_pivoted(["country", "gdp", "pop", "2001", "2002"])  # 3 > 2
    assert not looks_pivoted(["country", "2001"])  # <3 columns


def test_csv_and_pandas_writers(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    dest = str(tmp_path / "out_csv")
    CsvWriter(dest).write(df)
    part = [f for f in os.listdir(dest) if f.startswith("part-")]
    assert len(part) == 1  # coalesced single file
    pdf = PandasWriter().write(df)
    assert sorted(pdf["k"]) == ["a", "b"]


def test_d3m_writer_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [("alice", "3"), ("bob", "4")], "name string, age string"
    )
    dest = str(tmp_path / "d3m")
    D3mWriter("ds1", dest).write(df)
    doc = json.load(open(os.path.join(dest, "datasetDoc.json")))
    assert doc["about"]["datasetID"] == "ds1"
    res = doc["dataResources"][0]
    assert res["resPath"] == "tables/learningData.csv"
    cols = {c["colName"]: c for c in res["columns"]}
    assert cols["d3mIndex"]["role"] == ["index"]
    assert cols["age"]["colType"] == "integer"  # profiled from strings
    data = pd.read_csv(os.path.join(dest, "tables", "learningData.csv"))
    assert list(data.columns)[0] == "d3mIndex"
    assert list(data["d3mIndex"]) == [0, 1]


def test_materialize_direct_and_proxy_file_urls(spark, tmp_path, files):
    """S3/S4: file:// (and bare-path) materialization is real; size caps
    raise DatasetTooBig; http(s) failures surface as MaterializeError."""
    from datamart_spark.sources.materialize import (
        DatasetTooBig,
        MaterializeError,
        direct_download,
        materialize_to_dataframe,
        proxy_download,
    )

    dest = tmp_path / "out.bin"
    n = direct_download(str(files["csv"]), str(dest))
    assert n == os.path.getsize(files["csv"]) and dest.read_bytes().startswith(b"name,age")
    n2 = direct_download("file://" + str(files["csv"]), str(tmp_path / "o2.bin"))
    assert n2 == n

    with pytest.raises(DatasetTooBig):
        direct_download(str(files["csv"]), str(tmp_path / "o3.bin"), size_limit=5)

    # proxy layout: <proxy>/download/<dataset_id>
    pdir = tmp_path / "proxyroot" / "download"
    pdir.mkdir(parents=True)
    (pdir / "ds1").write_bytes(files["csv"].read_bytes())
    n3 = proxy_download("ds1", str(tmp_path / "o4.bin"), "file://" + str(tmp_path / "proxyroot"))
    assert n3 == n

    with pytest.raises(MaterializeError, match="unsupported URL scheme"):
        direct_download("ftp://x/y", str(tmp_path / "o5.bin"))
    # http in a no-network sandbox: the path is real, the failure clean
    with pytest.raises(MaterializeError, match="download failed"):
        direct_download("http://127.0.0.1:1/none.csv", str(tmp_path / "o6.bin"))

    # composed S3 + S5..S11: download -> detect -> DataFrame
    df = materialize_to_dataframe(spark, str(files["tsv"]), str(tmp_path / "wk"))
    assert df.columns == ["name", "age"] and df.count() == 2


def test_keyset_pagination_walks_all_pages(spark, tmp_path):
    from datamart_spark.query.search import paginate

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(100)], "grp int, seq int"
    )
    seen = []
    after = None
    while True:
        page = paginate(df, ["grp", "seq"], page_size=30, after=after).collect()
        if not page:
            break
        seen.extend((r["grp"], r["seq"]) for r in page)
        after = (page[-1]["grp"], page[-1]["seq"])
    assert seen == sorted(((i % 7, i) for i in range(100)))
    assert len(seen) == 100


# --- legacy .xls (hand-built OLE2 + BIFF8 fixtures) --------------------------

import struct


def _xls_rec(rid, payload):
    return struct.pack("<HH", rid, len(payload)) + payload


def _build_biff():
    """Globals + one sheet: header strings via SST, number, RK int,
    RK x100, MULRK pair, builtin-date, custom-date, bool, blank."""
    sst_strings = ["name", "num", "when", "flag"]

    def uni(s):
        return struct.pack("<HB", len(s), 0) + s.encode("latin-1")

    g = bytearray()
    g += _xls_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    g += _xls_rec(0x0022, struct.pack("<H", 0))  # DATEMODE 1900
    # custom FORMAT id 164 = yyyy-mm-dd (date by heuristic)
    fmt = "yyyy-mm-dd"
    g += _xls_rec(0x041E, struct.pack("<HH", 164, len(fmt)) + b"\x00" + fmt.encode())
    # XF 0: general; XF 1: builtin date (ifmt 14); XF 2: custom date 164
    for ifmt in (0, 14, 164):
        g += _xls_rec(0x00E0, struct.pack("<HH", 0, ifmt) + b"\x00" * 16)
    # SST
    sst = struct.pack("<II", len(sst_strings), len(sst_strings))
    for s in sst_strings:
        sst += uni(s)
    g += _xls_rec(0x00FC, sst)
    # BOUNDSHEET placeholder (patched after assembling)
    bs_payload = struct.pack("<I", 0) + b"\x00\x00" + struct.pack("<B", 6) + b"\x00Sheet1"
    bs_at = len(g) + 4  # offset of payload (sheet offset field)
    g += _xls_rec(0x0085, bs_payload)
    g += _xls_rec(0x000A, b"")  # EOF globals

    sheet_off = len(g)
    s = bytearray()
    s += _xls_rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    # row 0: header (LABELSST x4)
    for c, isst in enumerate(range(4)):
        s += _xls_rec(0x00FD, struct.pack("<HHHI", 0, c, 0, isst))
    # row 1: number, RK int, date via NUMBER w/ builtin XF, bool
    s += _xls_rec(0x0203, struct.pack("<HHH", 1, 0, 0) + struct.pack("<d", 2.5))
    s += _xls_rec(0x027E, struct.pack("<HHHI", 1, 1, 0, (42 << 2) | 2))
    s += _xls_rec(0x0203, struct.pack("<HHH", 1, 2, 1) + struct.pack("<d", 44197.0))
    s += _xls_rec(0x0205, struct.pack("<HHHBB", 1, 3, 0, 1, 0))  # TRUE
    # row 2: MULRK (x100 int RK = 2.5, plain int 7), custom date via RK, blank
    mulrk = struct.pack("<HH", 2, 0)
    mulrk += struct.pack("<HI", 0, (250 << 2) | 2 | 1)  # 250/100 = 2.5
    mulrk += struct.pack("<HI", 0, (7 << 2) | 2)
    mulrk += struct.pack("<H", 1)  # colLast
    s += _xls_rec(0x00BD, mulrk)
    s += _xls_rec(0x027E, struct.pack("<HHHI", 2, 2, 2, (44198 << 2) | 2))
    s += _xls_rec(0x0201, struct.pack("<HHH", 2, 3, 0))  # BLANK
    s += _xls_rec(0x000A, b"")  # EOF sheet

    wb = bytearray(g + s)
    wb[bs_at:bs_at + 4] = struct.pack("<I", sheet_off)
    return bytes(wb)


_XFREE, _XEOC, _XFATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD


def _xls_dir_entry(name, etype, start, size):
    e = bytearray(128)
    nb = name.encode("utf-16-le") + b"\x00\x00"
    e[:len(nb)] = nb
    struct.pack_into("<H", e, 64, len(nb))
    e[66] = etype
    e[67] = 1  # black
    struct.pack_into("<III", e, 68, _XFREE, _XFREE, _XFREE)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<I", e, 120, size)
    return bytes(e)


def _build_ole2(workbook, force_mini=False):
    """Wrap the workbook stream in a minimal OLE2 container.  Streams
    >= 4096 bytes use regular sectors; smaller ones go through the
    mini-FAT unless padded."""
    if not force_mini and len(workbook) < 4096:
        workbook = workbook + b"\x00" * (4096 - len(workbook))
    big = len(workbook) >= 4096

    sectors = []  # list of 512-byte sectors, data area
    fat = []

    def add_sector(b):
        sectors.append(b + b"\x00" * (512 - len(b)))
        fat.append(_XEOC)
        return len(sectors) - 1

    fat_sec = add_sector(b"")  # placeholder for FAT itself
    fat[fat_sec] = _XFATSECT

    if big:
        first = None
        prev = None
        for off in range(0, len(workbook), 512):
            i = add_sector(workbook[off:off + 512])
            if first is None:
                first = i
            if prev is not None:
                fat[prev] = i
            prev = i
        root = _xls_dir_entry("Root Entry", 5, _XEOC, 0)
        wbe = _xls_dir_entry("Workbook", 2, first, len(workbook))
        dir_sec = add_sector(root + wbe + _xls_dir_entry("", 0, _XFREE, 0) * 2)
        minifat_start, n_minifat = _XEOC, 0
    else:
        # ministream: 64-byte mini sectors inside the root's chain
        n_mini = (len(workbook) + 63) // 64
        mini = workbook + b"\x00" * (n_mini * 64 - len(workbook))
        first_ms = None
        prev = None
        for off in range(0, len(mini), 512):
            i = add_sector(mini[off:off + 512])
            if first_ms is None:
                first_ms = i
            if prev is not None:
                fat[prev] = i
            prev = i
        minifat_entries = [j + 1 for j in range(n_mini - 1)] + [_XEOC]
        mf = b"".join(struct.pack("<I", x) for x in minifat_entries)
        minifat_start = add_sector(mf)
        n_minifat = 1
        root = _xls_dir_entry("Root Entry", 5, first_ms, len(mini))
        wbe = _xls_dir_entry("Workbook", 2, 0, len(workbook))
        dir_sec = add_sector(root + wbe + _xls_dir_entry("", 0, _XFREE, 0) * 2)

    # write FAT into its sector
    fatbytes = b"".join(struct.pack("<I", x) for x in fat)
    fatbytes += struct.pack("<I", _XFREE) * (128 - len(fat))
    sectors[fat_sec] = fatbytes

    hdr = bytearray(512)
    hdr[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<HH", hdr, 24, 0x3E, 0x0003)
    struct.pack_into("<H", hdr, 28, 0xFFFE)
    struct.pack_into("<HH", hdr, 30, 9, 6)
    struct.pack_into("<I", hdr, 44, 1)          # one FAT sector
    struct.pack_into("<I", hdr, 48, dir_sec)
    struct.pack_into("<I", hdr, 56, 4096)
    struct.pack_into("<I", hdr, 60, minifat_start)
    struct.pack_into("<I", hdr, 64, n_minifat)
    struct.pack_into("<I", hdr, 68, _XEOC)        # no DIFAT chain
    struct.pack_into("<I", hdr, 72, 0)
    difat = [fat_sec] + [_XFREE] * 108
    struct.pack_into("<109I", hdr, 76, *difat)
    return bytes(hdr) + b"".join(sectors)




_XLS_EXPECT = [
    ["name", "num", "when", "flag"],
    ["2.5", "42", "2021-01-01T00:00:00", "1"],
    ["2.5", "7", "2021-01-02T00:00:00", ""],
]


@pytest.mark.parametrize("force_mini", [False, True])
def test_xls_to_csv_stdlib(tmp_path, force_mini):
    """S6 legacy converter, pure-Python ([MS-CFB]+[MS-XLS]): NUMBER/RK/
    MULRK/LABELSST/BOOLERR/BLANK cells, builtin + custom date formats
    to ISO-8601, '{:g}' numbers — through BOTH container paths (regular
    FAT sectors and the mini-FAT stream for workbooks under 4096 B)."""
    src = tmp_path / ("mini.xls" if force_mini else "big.xls")
    src.write_bytes(_build_ole2(_build_biff(), force_mini=force_mini))
    assert detect_format(str(src)) == "excel97"
    dst = tmp_path / "out.csv"
    CONVERTERS["excel97"](str(src), str(dst))
    assert list(csv.reader(open(dst))) == _XLS_EXPECT


def test_xls_multi_sheet_rejected(tmp_path):
    import struct as _s

    biff = bytearray(_build_biff())
    # append a second BOUNDSHEET record right before the globals EOF
    eof = biff.find(_xls_rec(0x000A, b""))
    extra = _xls_rec(0x0085, _s.pack("<I", 0) + b"\x00\x00" +
                     _s.pack("<B", 6) + b"\x00Sheet2")
    biff = bytes(biff[:eof]) + extra + bytes(biff[eof:])
    src = tmp_path / "two.xls"
    src.write_bytes(_build_ole2(biff))
    with pytest.raises(ValueError, match="2 sheets"):
        CONVERTERS["excel97"](str(src), str(tmp_path / "t.csv"))


def test_xls_sst_continue_split(tmp_path):
    """An SST string split across a CONTINUE record restarts with a
    fresh high-byte flag ([MS-XLS] 2.5.293) — both fragments must
    reassemble."""
    import struct as _s

    g = bytearray()
    g += _xls_rec(0x0809, _s.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    g += _xls_rec(0x0022, _s.pack("<H", 0))
    g += _xls_rec(0x00E0, _s.pack("<HH", 0, 0) + b"\x00" * 16)
    sst_head = _s.pack("<II", 2, 2)
    s1 = _s.pack("<HB", 5, 0) + b"alpha"
    s2a = _s.pack("<HB", 12, 0) + b"cont"
    s2b = b"\x00" + b"inuation"  # fresh grbit byte, then the rest
    g += _xls_rec(0x00FC, sst_head + s1 + s2a)
    g += _xls_rec(0x003C, s2b)  # CONTINUE
    bs_at = len(g) + 4
    g += _xls_rec(0x0085, _s.pack("<I", 0) + b"\x00\x00" +
                  _s.pack("<B", 6) + b"\x00Sheet1")
    g += _xls_rec(0x000A, b"")
    sheet_off = len(g)
    sh = bytearray()
    sh += _xls_rec(0x0809, _s.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    sh += _xls_rec(0x00FD, _s.pack("<HHHI", 0, 0, 0, 0))
    sh += _xls_rec(0x00FD, _s.pack("<HHHI", 0, 1, 0, 1))
    sh += _xls_rec(0x000A, b"")
    wb = bytearray(g + sh)
    wb[bs_at:bs_at + 4] = _s.pack("<I", sheet_off)
    src = tmp_path / "cont.xls"
    src.write_bytes(_build_ole2(bytes(wb)))
    dst = tmp_path / "cont.csv"
    CONVERTERS["excel97"](str(src), str(dst))
    assert list(csv.reader(open(dst))) == [["alpha", "continuation"]]


def test_xls_read_auto_roundtrip(spark, tmp_path):
    src = tmp_path / "r.xls"
    src.write_bytes(_build_ole2(_build_biff()))
    df = read_auto(spark, str(src))
    assert df.columns == ["name", "num", "when", "flag"]
    got = sorted((r["num"], r["flag"]) for r in df.collect())
    assert got == [("42", "1"), ("7", None)]


# --- W7 NOAA materializer (injected transport; rollup is real) ----------------


def test_noaa_rollup_and_pagination(tmp_path, monkeypatch):
    from datamart_spark.sources.noaa import (
        UnconfiguredMaterializer, get_all, noaa_download, rollup_by_date,
    )

    # per-date station averaging, reference ordering (noaa.py:76-87)
    rows = [
        {"date": "2021-01-02", "value": 4.0},
        {"date": "2021-01-01", "value": 1.0},
        {"date": "2021-01-01", "value": 3.0},
        {"date": "2021-01-02", "value": 6.0},
        {"date": "2021-01-03", "value": 5.0},
    ]
    assert rollup_by_date(rows) == [
        ("2021-01-01", 2.0), ("2021-01-02", 5.0), ("2021-01-03", 5.0),
    ]

    # pagination: two limit-1000 pages + a transient failure retried
    all_rows = [{"date": f"2021-01-{1 + i % 3:02d}", "value": float(i)}
                for i in range(1500)]
    calls = {"n": 0, "fail_once": True}

    def fetch(url, headers, params):
        from datamart_spark.sources.materialize import MaterializeError

        assert headers["token"] == "tok" and url.endswith("/data")
        if calls["fail_once"]:
            calls["fail_once"] = False
            raise MaterializeError("transient")
        calls["n"] += 1
        off = int(params["offset"])
        page = all_rows[off:off + 1000]
        return {"results": page,
                "metadata": {"resultset": {"count": len(all_rows)}}}

    got = get_all("/data", "tok", fetch=fetch, delay=0)
    assert got == all_rows and calls["n"] == 2

    # end-to-end download with the injected transport
    monkeypatch.setenv("NOAA_TOKEN", "tok")
    calls["fail_once"] = False
    dst = tmp_path / "noaa.csv"
    noaa_download(
        {"noaa_dataset_id": "GHCND", "noaa_datatype_id": "TAVG",
         "noaa_city_id": "CITY:1", "noaa_start": "2021-01-01",
         "noaa_end": "2021-01-03"},
        str(dst), fetch=fetch, delay=0,
    )
    out = list(csv.reader(open(dst)))
    assert out[0] == ["date", "TAVG"]
    assert len(out) == 4  # 3 distinct dates
    # missing token is the reference's UnconfiguredMaterializer
    monkeypatch.delenv("NOAA_TOKEN")
    with pytest.raises(UnconfiguredMaterializer, match="NOAA_TOKEN"):
        noaa_download({}, str(dst), fetch=fetch)


def test_xls_empty_sheet(tmp_path):
    """A workbook whose only sheet has no cell records converts to an
    empty CSV (xlrd parity), not a crash."""
    import struct as _s

    g = bytearray()
    g += _xls_rec(0x0809, _s.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    bs_at = len(g) + 4
    g += _xls_rec(0x0085, _s.pack("<I", 0) + b"\x00\x00" +
                  _s.pack("<B", 6) + b"\x00Sheet1")
    g += _xls_rec(0x000A, b"")
    sheet_off = len(g)
    g += _xls_rec(0x0809, _s.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    g += _xls_rec(0x000A, b"")
    wb = bytearray(g)
    wb[bs_at:bs_at + 4] = _s.pack("<I", sheet_off)
    src = tmp_path / "empty.xls"
    src.write_bytes(_build_ole2(bytes(wb)))
    dst = tmp_path / "empty.csv"
    CONVERTERS["excel97"](str(src), str(dst))
    assert open(dst).read() == ""


def test_sav_very_long_strings_refused(tmp_path):
    """Subtype-14 (very long strings) would silently produce a wrong
    schema — must refuse with the reason."""
    import struct as _s

    from datamart_spark.sources.spss import SavError

    src = tmp_path / "vls.sav"
    _write_min_sav(str(src))
    data = bytearray(src.read_bytes())
    term = data.find(_s.pack("<ii", 999, 0))
    vls = b"NAME=00300"
    rec = _s.pack("<iiii", 7, 14, 1, len(vls)) + vls
    data = bytes(data[:term]) + rec + bytes(data[term:])
    src.write_bytes(data)
    with pytest.raises(SavError, match="very long strings"):
        CONVERTERS["spss"](str(src), str(tmp_path / "v.csv"))


def test_noaa_empty_page_terminates():
    """A page that adds no rows while the count claims more must end
    the pull, not loop forever (count drift happens in the wild)."""
    from datamart_spark.sources.noaa import get_all

    def fetch(url, headers, params):
        off = int(params["offset"])
        page = [{"date": "2021-01-01", "value": 1.0}] if off == 0 else []
        return {"results": page,
                "metadata": {"resultset": {"count": 10}}}

    got = get_all("/data", "tok", fetch=fetch, delay=0)
    assert len(got) == 1
    # a page with no results key at all: same clean exhaustion
    def fetch2(url, headers, params):
        return {"metadata": {"resultset": {"count": 10}}}
    assert get_all("/data", "tok", fetch=fetch2, delay=0) == []
