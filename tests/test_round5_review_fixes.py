"""Regression tests for the round-5 self-review findings: numpy-scalar
xlsx cells, duplicate headers, TTL terminators without whitespace,
simhash block-selectivity warning, TTL 'id'-param preservation,
continuous-query release. The bucketed compaction guard's test lives in
test_materialize."""

from __future__ import annotations

import pandas as pd
import pytest

from tab2neo_spark.sources.xlsx import read_xlsx, write_xlsx


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


def test_ttl_terminator_without_space(spark):
    """Legal Turtle puts the statement '.' directly after a prefixed
    name; the tokenizer must not swallow it into the word (which would
    desynchronize every following statement)."""
    from tab2neo_spark.model.serialization import parse_ttl_graph

    g = parse_ttl_graph(
        """@prefix x: <urn:x#> .
x:c a x:Method.
x:c x:id "m".
x:a0 a x:Method.
x:a0 x:type "get_data".
x:c x:METHOD_ACTION x:a0.
"""
    )
    nodes = {n["id"]: n for n in g["nodes"]}
    assert nodes["c"]["labels"] == ["Method"]
    assert nodes["c"]["properties"] == {"id": "m"}
    assert nodes["a0"]["properties"] == {"type": "get_data"}
    assert [(r["fromId"], r["toId"], r["type"]) for r in g["relationships"]] == [
        ("c", "a0", "METHOD_ACTION")
    ]


def test_simhash_narrow_block_warning(spark):
    from tab2neo_spark.operators.dedup import simhash_pairs_from_fps

    fps = spark.createDataFrame([(1, 3), (2, 5)], "doc_id long, simhash long")
    with pytest.warns(UserWarning, match="near-quadratic"):
        simhash_pairs_from_fps(fps, "doc_id", bits=16, max_hamming=3)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # wide blocks must NOT warn
        simhash_pairs_from_fps(fps, "doc_id", bits=32, max_hamming=1)


def test_ttl_genuine_id_param_survives(spark):
    """from_ttl strips only the reference's display pattern
    (id == type); an action's real 'id' parameter round-trips."""
    from tab2neo_spark.pipeline.runner import DerivationMethod

    td = spark.createDataFrame([("S1", 1)], "Subject string, Age int")
    spec = {
        "name": "keep_id",
        "actions": [
            {"type": "get_data", "id": "my-param"},
        ],
    }
    m = DerivationMethod(spark, spec, source_df=td)
    m2 = DerivationMethod.from_ttl(spark, m.to_ttl(), source_df=td)
    assert m2.actions == [{"type": "get_data", "id": "my-param"}]
    # the reference display form (id == type) is still stripped
    ref = """@prefix x: <urn:x#> .
x:c a x:Method ; x:id "m" ; x:METHOD_ACTION x:a0 .
x:a0 a x:Method ; x:type "get_data" ; x:id "get_data" .
"""
    m3 = DerivationMethod.from_ttl(spark, ref, source_df=td)
    assert m3.actions == [{"type": "get_data"}]


def test_release_stop_and_timeout():
    """release(stop=True) stops a continuous query before waiting;
    timeout bounds the wait; unpersist always runs."""
    from tab2neo_spark.streaming.neardup import release

    calls = []

    class FakeDF:
        def unpersist(self):
            calls.append("unpersist")

    class FakeQuery:
        bench_digests = FakeDF()

        def stop(self):
            calls.append("stop")

        def awaitTermination(self, timeout=None):
            calls.append(("await", timeout))

    release(FakeQuery(), stop=True, timeout=5)
    assert calls == ["stop", ("await", 5), "unpersist"]


def test_simhash_xxhash64_production_mode(spark):
    """64-bit production fingerprints: the full hamming<=d pair set still
    matches a brute-force check, fingerprints actually use the high bits
    (selective 16-bit block keys at d=3, no narrow-block warning), and
    md5 mode is unchanged by the OR-accumulation rewrite."""
    import warnings

    from tab2neo_spark.operators.dedup import (
        simhash, simhash_near_pairs, simhash_pairs_from_fps,
    )

    rows = [(i, f"alpha beta gamma token{i} delta epsilon") for i in range(30)]
    rows += [(100 + i, f"alpha beta gamma token{i} delta zeta") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fps = simhash(df, "text", "doc_id", bits=64, hash_fn="xxhash64")
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    # high bits in use: some fingerprint exceeds the 32-bit md5 range
    assert any(v < 0 or v > 0xFFFFFFFF for v in vals.values())

    for d in (2, 3):
        exp = sorted(
            (a, b, bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1"))
            for a in vals for b in vals
            if a < b and bin((vals[a] ^ vals[b]) & (2**64 - 1)).count("1") <= d
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # 64/4 blocks: no narrow warn
            got = sorted(
                map(tuple,
                    simhash_pairs_from_fps(
                        fps, "doc_id", bits=64, max_hamming=d
                    ).collect())
            )
        assert got == exp, f"d={d}"

    # end-to-end production call
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = simhash_near_pairs(
            df, "text", "doc_id", bits=64, max_hamming=3, hash_fn="xxhash64"
        )
        assert out.count() == len(exp)

    # md5 16-bit fingerprints are value-stable under the OR rewrite
    # (the DuckDB oracle computes sum of 1<<bit — same number)
    md5fps = {r["doc_id"]: r["simhash"]
              for r in simhash(df, "text", "doc_id", bits=16).collect()}
    assert all(0 <= v <= 0xFFFF for v in md5fps.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="capped at bits<=32"):
        simhash(df, "text", "doc_id", bits=64, hash_fn="md5")
