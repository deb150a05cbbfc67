"""Pure-Python .xlsx (VERDICT r4 Next-round #5): write -> read
round-trip, sheet selection by name/index, shared + inline strings, and
the live S1 loader path — reference parity
tests/test_file_data_loader/test_load_xlsx.py (per-tab loads with
TEST.<TAB> domains)."""

from __future__ import annotations

import zipfile

import pandas as pd
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from tab2neo_spark.sources.xlsx import read_xlsx, write_xlsx


def _two_sheet_book(path: str) -> dict[str, pd.DataFrame]:
    first = pd.DataFrame(
        {
            "STUDYID": ["s1", "s2", "s3"],
            "AGE": [34, 51, 28],
            "BMI": [22.5, 31.0, 27.25],
            "ACTIVE": [True, False, True],
        }
    )
    second = pd.DataFrame({"SITE": ["a", "b"], "N": [10, 20]})
    write_xlsx(path, {"First": first, "Second": second})
    return {"First": first, "Second": second}


def test_xlsx_round_trip_and_sheet_selection(tmp_path):
    path = str(tmp_path / "test.xlsx")
    sheets = _two_sheet_book(path)
    got = read_xlsx(path)  # default: first sheet
    pd.testing.assert_frame_equal(got, sheets["First"])
    assert got["AGE"].dtype == "int64"  # whole-number col integral
    assert got["BMI"].dtype == "float64"
    assert got["ACTIVE"].tolist() == [True, False, True]
    pd.testing.assert_frame_equal(read_xlsx(path, "Second"), sheets["Second"])
    pd.testing.assert_frame_equal(read_xlsx(path, 1), sheets["Second"])
    with pytest.raises(ValueError, match="no sheet"):
        read_xlsx(path, "Missing")


def test_xlsx_inline_strings_sparse_cells_rich_runs(tmp_path):
    """What third-party writers emit: inlineStr cells, sparse rows
    (missing cells), rich-text shared strings (<r><t> runs), formula
    string results (t=\"str\")."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c>
  <c r="B1" t="inlineStr"><is><t>v</t></is></c>
  <c r="C1" t="inlineStr"><is><t>w</t></is></c></row>
<row r="2"><c r="A2" t="s"><v>0</v></c><c r="C2"><v>7</v></c></row>
<row r="3"><c r="A3" t="str"><v>calc</v></c><c r="B3"><v>1.5</v></c></row>
</sheetData></worksheet>"""
    sst = (
        f'<sst xmlns="{ns}"><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>'
    )
    wb = (
        f'<workbook xmlns="{ns}" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    path = str(tmp_path / "ext.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    df = read_xlsx(path)
    assert list(df.columns) == ["name", "v", "w"]
    assert df["name"].tolist() == ["rich", "calc"]  # shared rich-text runs
    assert pd.isna(df["v"][0]) and df["v"][1] == 1.5  # sparse cell -> NaN
    assert pd.isna(df["w"][1]) and df["w"][0] == 7


def test_xlsx_live_loader_path(spark, tmp_path):
    """S1 end-to-end without openpyxl: read_file dispatches .xlsx to the
    pure reader; per-tab load_file gets the reference's TEST.<TAB>
    domain; metadataonly rides the same dispatch."""
    from tab2neo_spark.sources.loaders import load_file, read_file

    path = str(tmp_path / "test.xlsx")
    _two_sheet_book(path)
    sdf = read_file(spark, str(tmp_path), "test.xlsx")
    assert sdf.count() == 3
    assert set(sdf.columns) == {"STUDYID", "AGE", "BMI", "ACTIVE"}
    assert sdf.filter(sdf.STUDYID == "s2").collect()[0]["AGE"] == 51

    tab = load_file(spark, str(tmp_path), "test.xlsx", sheet_name="Second")
    assert tab.count() == 2
    row = tab.collect()[0]
    assert row["_domain_"] == "TEST.SECOND" and row["_filename_"] == "test.xlsx"

    assert read_file(
        spark, str(tmp_path), "test.xlsx", metadataonly=True
    ).count() == 0


_NAME = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters="\r\n\t"
    ),
    min_size=1,
    max_size=12,
)


@st.composite
def _xlsx_frames(draw):
    n_rows = draw(st.integers(min_value=1, max_value=6))
    names = draw(
        st.lists(_NAME, min_size=1, max_size=4, unique=True)
    )
    cols = {}
    for name in names:
        kind = draw(st.sampled_from(["int", "float", "str", "bool"]))
        if kind == "int":
            vals = draw(st.lists(st.integers(-(2**53), 2**53),
                                 min_size=n_rows, max_size=n_rows))
        elif kind == "float":
            vals = draw(st.lists(
                st.floats(allow_nan=False, allow_infinity=False, width=64),
                min_size=n_rows, max_size=n_rows))
        elif kind == "bool":
            vals = draw(st.lists(st.booleans(),
                                 min_size=n_rows, max_size=n_rows))
        else:
            vals = draw(st.lists(
                st.text(alphabet=st.characters(
                    blacklist_categories=("Cs", "Cc")), max_size=20),
                min_size=n_rows, max_size=n_rows))
        cols[name] = vals
    return pd.DataFrame(cols)


@settings(max_examples=40, deadline=None)
@given(_xlsx_frames())
def test_xlsx_roundtrip_property(tmp_path_factory, df):
    from tab2neo_spark.sources.xlsx import read_xlsx, write_xlsx

    p = str(tmp_path_factory.mktemp("xl") / "t.xlsx")
    write_xlsx(p, {"S": df})
    got = read_xlsx(p)
    assert list(got.columns) == [str(c) for c in df.columns]
    for c in df.columns:
        exp = df[c].tolist()
        act = got[c].tolist()
        for e, a in zip(exp, act):
            if isinstance(e, bool):
                assert a is True or a is False
                assert a == e
            elif isinstance(e, str):
                # every string (incl. '') round-trips via shared strings
                assert a == e
            elif isinstance(e, int):
                assert int(a) == e
            else:
                assert a == e or abs(a - e) < 1e-9 * max(1.0, abs(e))


def test_xlsx_homogeneous_numeric_frames(tmp_path):
    """iterrows over a homogeneous-dtype frame yields numpy scalars
    (np.int64 / np.bool_), which are NOT instances of int/bool — the
    writer must unbox them or whole-int columns round-trip as text."""
    p = str(tmp_path / "h.xlsx")
    ints = pd.DataFrame({"a": [1, 2, 3]})
    write_xlsx(p, {"S": ints})
    got = read_xlsx(p)
    assert got["a"].dtype == "int64" and got["a"].tolist() == [1, 2, 3]

    bools = pd.DataFrame({"b": [True, False, True]})
    write_xlsx(p, {"S": bools})
    got = read_xlsx(p)
    assert got["b"].tolist() == [True, False, True]
    assert got["b"].dtype == bool

    floats = pd.DataFrame({"f": [1.5, 2.5]})
    write_xlsx(p, {"S": floats})
    assert read_xlsx(p)["f"].tolist() == [1.5, 2.5]


def test_xlsx_duplicate_headers_and_ragged_rows(tmp_path):
    """Two columns headed 'id' dedup pandas-style ('id', 'id.1') with
    BOTH columns' data intact; a data row wider than the header keeps its
    extra cell under an Unnamed column."""
    import zipfile

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>id</t></is></c>
  <c r="B1" t="inlineStr"><is><t>id</t></is></c></row>
<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c><c r="C2"><v>9</v></c></row>
</sheetData></worksheet>"""
    wb = (
        f'<workbook xmlns="{ns}" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    p = str(tmp_path / "dup.xlsx")
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    df = read_xlsx(p)
    assert list(df.columns) == ["id", "id.1", "Unnamed: 2"]
    assert df["id"].tolist() == [1] and df["id.1"].tolist() == [2]
    assert df["Unnamed: 2"].tolist() == [9]


def _book(tmp_path, sheet_xml: str) -> str:
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    wb = (
        f'<workbook xmlns="{ns}" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    path = str(tmp_path / "gap.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return path


def test_xlsx_interior_blank_rows_keep_alignment(tmp_path):
    from tab2neo_spark.sources.xlsx import read_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>
<row r="2"><c r="A2"><v>1</v></c></row>
<row r="5"><c r="A5"><v>4</v></c></row>
</sheetData></worksheet>"""
    df = read_xlsx(_book(tmp_path, sheet))
    # rows 3 and 4 were omitted by the writer -> two all-NaN rows keep
    # row 5's value at frame position 3 (pandas/openpyxl parity)
    assert list(df.columns) == ["k"]
    assert len(df) == 4
    assert df["k"][0] == 1 and pd.isna(df["k"][1]) and pd.isna(df["k"][2])
    assert df["k"][3] == 4


def test_xlsx_rows_without_r_still_sequential(tmp_path):
    from tab2neo_spark.sources.xlsx import read_xlsx

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{ns}"><sheetData>
<row><c t="inlineStr"><is><t>k</t></is></c></row>
<row><c><v>1</v></c></row>
<row><c><v>2</v></c></row>
</sheetData></worksheet>"""
    df = read_xlsx(_book(tmp_path, sheet))
    assert df["k"].tolist() == [1, 2]
