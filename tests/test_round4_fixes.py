"""Round-4 fixes: pack_map 1:N-key dedup, two-phase stratified_cap.

Regression tests for VERDICT r3 "What's wrong" items 1 and 2.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F


def test_pack_map_duplicate_keys_last_per_key(spark):
    """A map key appearing with several values in one group must not raise
    DUPLICATED_MAP_KEY; sorted-entries last-per-key wins (= deterministic
    max value per key, the provider path's documented divergence from
    apoc.map.fromPairs row-order)."""
    from tab2neo_spark.operators.packing import pack_map

    df = spark.createDataFrame(
        [
            ("g1", "k1", 1),
            ("g1", "k1", 7),   # duplicate key, two values
            ("g1", "k2", 3),
            ("g2", "k1", 4),
            ("g2", None, 9),   # NULL keys dropped, not crashed on
        ],
        "g string, k string, v int",
    )
    rows = {r["g"]: dict(r["packed"]) for r in pack_map(df, ["g"], "k", "v").collect()}
    assert rows == {"g1": {"k1": 7, "k2": 3}, "g2": {"k1": 4}}


def test_pack_map_empty_group_after_null_keys(spark):
    from tab2neo_spark.operators.packing import pack_map

    df = spark.createDataFrame([("g1", None, 1)], "g string, k string, v int")
    rows = pack_map(df, ["g"], "k", "v").collect()
    assert len(rows) == 1 and dict(rows[0]["packed"]) == {}


def _naive_cap(df, strata, id_col, cap, salt="cap"):
    rank_key = F.md5(F.concat_ws("#", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def test_stratified_cap_matches_naive_window_hot_stratum(spark):
    """Two-phase (threshold prefilter + exact window) must return the
    EXACT same rows as the naive single-window form — including with a
    hot stratum 50x the cap and a stratum smaller than the cap."""
    from tab2neo_spark.operators.corpus import stratified_cap

    rows = [(f"d{i}", "en" if i % 20 else "fr") for i in range(5000)]
    rows += [(f"tiny{i}", "xx") for i in range(3)]
    df = spark.createDataFrame(rows, "id string, s string")
    for cap in (1, 7, 100):
        got = sorted(map(tuple, stratified_cap(df, ["s"], "id", cap=cap).collect()))
        exp = sorted(map(tuple, _naive_cap(df, ["s"], "id", cap).collect()))
        assert got == exp, f"cap={cap}: {len(got)} vs {len(exp)} rows"


def test_stratified_cap_window_input_is_prefiltered(spark):
    """Scale guard (VERDICT r3 #2): the exact row_number window must read
    the thresholded survivor subset, never the raw stratum — the plan's
    Window sits above a Filter on the broadcast per-stratum threshold, so
    a hot stratum contributes ~cap·(1+slack) rows to the window task, not
    its full population."""
    from tab2neo_spark.operators.corpus import stratified_cap

    df = spark.createDataFrame(
        [(f"d{i}", "en") for i in range(5000)], "id string, s string"
    )
    out = stratified_cap(df, ["s"], "id", cap=50)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    win = plan[plan.index("Window") :]
    # below the window: the threshold predicate on the joined broadcast col
    assert "_cap_thr" in win, plan
    # the window is stratum-partitioned (its spec names the strata col),
    # never an empty-partition global window
    assert "windowspecdefinition(s#" in plan, plan
    assert "windowspecdefinition(md5" not in plan
    # and the survivor row-count bound holds empirically: the window input
    # (pre minus short-strata plus fallback) is tiny vs the 5000-row stratum
    slack = max(0.25, (56.0 / 50) ** 0.5)
    assert out.count() == 50
    # re-derive phase-1 survivors exactly as the operator does to bound
    # the window-stage input size
    rank_key = F.md5(F.concat_ws("#", F.lit("cap"), F.col("id").cast("string")))
    key_frac = F.conv(F.substring(rank_key, 1, 15), 16, 10).cast("long") / F.lit(
        float(16**15)
    )
    thr = 50 * (1.0 + slack) / 5000
    n_surv = df.filter(key_frac <= F.lit(thr)).count()
    assert n_surv < 500, n_surv  # ~ cap·(1+slack) ≈ 103 expected, << 5000


def test_repeated_ngram_spans(spark):
    """Fixed-window exact substring dedup: positions whose n-token window
    repeats corpus-wide are flagged with occurrence/doc counts; unique
    windows and short docs yield nothing."""
    from tab2neo_spark.operators.dedup import repeated_ngram_spans

    shared = "alpha beta gamma delta"  # 4-token window shared across docs
    df = spark.createDataFrame(
        [
            (1, f"{shared} unique one filler text here"),
            (2, f"prefix token {shared} and a tail"),
            (3, "totally different words with no overlap at all"),
            (4, "short doc"),  # < n tokens -> no windows
            (5, f"{shared} zz {shared}"),  # window repeats WITHIN one doc
        ],
        "doc_id long, text string",
    )
    out = repeated_ngram_spans(df, "text", "doc_id", n=4, min_count=2)
    rows = {(r["doc_id"], r["start_token"]): r for r in out.collect()}
    # the shared window appears at: doc1 pos1, doc2 pos3, doc5 pos1 + pos6
    assert (1, 1) in rows and (2, 3) in rows and (5, 1) in rows and (5, 6) in rows
    r = rows[(1, 1)]
    assert r["n_occurrences"] == 4 and r["n_docs"] == 3
    # doc3/doc4 contribute nothing; no unique window leaks through
    assert all(k[0] in (1, 2, 5) for k in rows)
    # md5 oracle mode returns the identical span set
    md5_rows = {
        (r["doc_id"], r["start_token"])
        for r in repeated_ngram_spans(
            df, "text", "doc_id", n=4, min_count=2, hash_fn="md5"
        ).collect()
    }
    assert md5_rows == set(rows)


def test_rdata_roundtrip_and_loader(spark, tmp_path):
    """Pure-Python .rda/.rds: encode -> decode round-trip of data.frames
    (ints with NA, reals with NA/NaN, strings with NA, logicals), factor
    decoding, and the read_file loader path (first workspace object, like
    the reference's pyreadr usage)."""
    import pandas as pd

    from tab2neo_spark.sources.rdata import (
        _Writer, read_r, write_rda, write_rds,
    )

    df = pd.DataFrame(
        {
            "STUDYID": ["s1", "s2", None, "s4"],
            "AGE": pd.array([34, None, 51, 28], dtype="Int64"),
            "BMI": [22.5, float("nan"), 31.0, 27.2],
            "ACTIVE": [True, False, True, None],
        }
    )
    rda = str(tmp_path / "dm.rda")
    write_rda(rda, {"dm": df, "second": df.head(1)})
    out = read_r(rda)
    assert list(out) == ["dm", "second"]
    got = out["dm"]
    assert list(got.columns) == ["STUDYID", "AGE", "BMI", "ACTIVE"]
    assert got["STUDYID"].tolist()[:2] == ["s1", "s2"] and got["STUDYID"][2] is None
    # int-with-NA comes back as float+NaN — pandas inference, same as pyreadr
    assert got["AGE"][0] == 34 and pd.isna(got["AGE"][1])
    assert got["BMI"][2] == 31.0 and pd.isna(got["BMI"][1])  # R NA round-trips
    assert got["ACTIVE"].tolist()[:3] == [True, False, True] and pd.isna(
        got["ACTIVE"][3]
    )

    rds = str(tmp_path / "dm.rds")
    write_rds(rds, df.head(2))
    assert read_r(rds)[None]["STUDYID"].tolist() == ["s1", "s2"]

    # factor column: integer codes + levels attr decode to strings
    w = _Writer()
    w.buf += b"X\n"
    w.i4(2); w.i4(0x030403); w.i4(0x020300)
    from tab2neo_spark.sources.rdata import LISTSXP, NILVALUE_SXP, VECSXP, _HAS_TAG
    w.flags(LISTSXP, has_tag=True)
    w.symbol("f")
    w.flags(VECSXP, has_attr=True, is_obj=True)
    w.i4(1)
    # the factor vector itself carries attrs (levels, class)
    w.flags(13, has_attr=True)  # INTSXP
    w.i4(3)
    for v in (2, 1, 2):
        w.i4(v)
    w.attr_pairlist(
        [("levels", lambda: w.strsxp(["lo", "hi"])),
         ("class", lambda: w.strsxp(["factor"]))]
    )
    w.attr_pairlist(
        [("names", lambda: w.strsxp(["grade"])),
         ("row.names", lambda: w.intsxp([None, -3])),
         ("class", lambda: w.strsxp(["data.frame"]))]
    )
    w.flags(NILVALUE_SXP)
    import gzip
    fpath = str(tmp_path / "factor.rda")
    open(fpath, "wb").write(gzip.compress(b"RDX2\n" + bytes(w.buf)))
    assert read_r(fpath)["f"]["grade"].tolist() == ["hi", "lo", "hi"]

    # loader integration: read_file -> Spark DataFrame, first object wins
    from tab2neo_spark.sources.loaders import read_file

    sdf = read_file(spark, str(tmp_path), "dm.rda")
    assert sdf.count() == 4
    assert set(sdf.columns) == {"STUDYID", "AGE", "BMI", "ACTIVE"}
    assert sdf.filter(sdf.STUDYID == "s1").count() == 1


def _xpt_bytes() -> bytes:
    """Hand-crafted SAS transport (XPT v5) file — the format is public
    (SAS technical note TS-140): 80-byte header records, 140-byte
    NAMESTR variable descriptors, rows of space-padded chars + IBM
    base-16 doubles. Lets the SAS dispatch be LIVE-tested without any
    SAS tooling in the container."""
    import struct

    def ibm_double(x: float) -> bytes:
        if x == 0:
            return b"\x00" * 8
        sign = 0x80 if x < 0 else 0
        x = abs(x)
        e = 0
        while x >= 1:
            x /= 16.0
            e += 1
        while x < 1 / 16.0:
            x *= 16.0
            e -= 1
        frac = int(x * (1 << 56))
        return bytes([sign | (64 + e)]) + struct.pack(">Q", frac)[1:8]

    def rec(s: str) -> bytes:
        return s.ljust(80).encode()

    def pad80(b: bytes) -> bytes:
        return b + b" " * ((-len(b)) % 80)

    def namestr(ntype, varnum, length, name, pos):
        b = struct.pack(">hhhh", ntype, 0, length, varnum)
        b += name.ljust(8).encode() + b" " * 48
        b += struct.pack(">hhh", 0, 0, 0) + b"  " + b" " * 8
        b += struct.pack(">hh", 0, 0) + struct.pack(">l", pos)
        return b + b" " * (140 - len(b))

    out = bytearray()
    out += rec("HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!"
               "000000000000000000000000000000")
    out += rec("SAS     SAS     SASLIB  9.4     Linux"
               + " " * 27 + "01JAN26:00:00:00")
    out += rec("01JAN26:00:00:00")
    out += rec("HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!"
               "000000000000000001600000000140")
    out += rec("HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!"
               "000000000000000000000000000000")
    out += rec("SAS     DM      SASDATA 9.4     Linux"
               + " " * 27 + "01JAN26:00:00:00")
    out += rec("01JAN26:00:00:00" + " " * 16 + "Demographics")
    out += rec("HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!"
               "000000000200000000000000000000")
    out += pad80(namestr(2, 1, 8, "STUDYID", 0) + namestr(1, 2, 8, "AGE", 8))
    out += rec("HEADER RECORD*******OBS     HEADER RECORD!!!!!!!"
               "000000000000000000000000000000")
    rows = b""
    for sid, age in [("s1", 34.0), ("s2", 51.5), ("s3", -2.25)]:
        rows += sid.ljust(8).encode() + ibm_double(age)
    out += pad80(rows)
    return bytes(out)


def test_xpt_live_roundtrip(spark, tmp_path):
    """S-tier SAS dispatch, live: read_file on a crafted .xpt exercises
    pandas' built-in XPORT reader (no pyreadstat dependency), the
    bytes->string CHAR decode, and the Spark conversion — including IBM
    base-16 doubles with fractional and negative values."""
    from tab2neo_spark.sources.loaders import read_file

    (tmp_path / "dm.xpt").write_bytes(_xpt_bytes())
    sdf = read_file(spark, str(tmp_path), "dm.xpt")
    rows = {r["STUDYID"]: r["AGE"] for r in sdf.collect()}
    assert rows == {"s1": 34.0, "s2": 51.5, "s3": -2.25}
    # metadataonly / test_run knobs ride the same dispatch
    assert read_file(spark, str(tmp_path), "dm.xpt", metadataonly=True).count() == 0


def test_merge_repeated_spans(spark):
    """Gaps-and-islands collapse: overlapping window starts chain into one
    maximal span; a gap >= n starts a new span."""
    from tab2neo_spark.operators.dedup import merge_repeated_spans

    spans = spark.createDataFrame(
        [(1, 1), (1, 3), (1, 5), (1, 20), (2, 7)],
        "doc_id long, start_token int",
    ).withColumn("n_occurrences", F.lit(2)).withColumn("n_docs", F.lit(2))
    out = sorted(
        map(tuple, merge_repeated_spans(spans, "doc_id", n=4).collect())
    )
    # doc1: 1,3,5 chain (gaps < 4) -> [1, 5+3]; 20 alone -> [20, 23]
    assert out == [(1, 1, 8), (1, 20, 23), (2, 7, 10)]


def test_domain_mixing_weights(spark):
    """alpha=1 gives natural token shares; alpha<1 upweights the small
    domain; weights always sum to 1."""
    from tab2neo_spark.operators.corpus import domain_mixing_weights

    df = spark.createDataFrame(
        [("big", 900), ("big", 900), ("small", 200)],
        "source string, n_tokens long",
    )
    nat = {r["source"]: r for r in
           domain_mixing_weights(df, "source", "n_tokens", alpha=1.0).collect()}
    assert abs(nat["big"]["weight"] - 1800 / 2000) < 1e-9
    assert nat["big"]["n_docs"] == 2 and nat["small"]["n_tokens"] == 200
    tempered = {r["source"]: r["weight"] for r in
                domain_mixing_weights(df, "source", "n_tokens", alpha=0.5).collect()}
    assert abs(sum(tempered.values()) - 1.0) < 1e-9
    assert tempered["small"] > nat["small"]["weight"]  # upweighted


def test_rdata_altrep_and_int64():
    """Reader handles R >= 3.5 ALTREP records (compact integer sequences —
    what real R writes for df$id <- 1:n — and wrap_* vectors); writer
    demotes out-of-int32 columns to REALSXP instead of crashing."""
    import gzip

    import pandas as pd

    from tab2neo_spark.sources.rdata import (
        ALTREP_SXP, LISTSXP, NILVALUE_SXP, REALSXP, VECSXP,
        _Reader, _Writer, read_r, write_rds,
    )

    # hand-encode: data.frame(id = 1:4) with id as ALTREP compact_intseq
    w = _Writer()
    w.buf += b"X\n"
    w.i4(2); w.i4(0x030403); w.i4(0x020300)
    w.flags(VECSXP, has_attr=True, is_obj=True)
    w.i4(1)
    w.flags(ALTREP_SXP)
    # info pairlist: (compact_intseq symbol, base symbol, type int)
    w.flags(LISTSXP, has_tag=False)
    w.symbol("compact_intseq")
    w.flags(LISTSXP, has_tag=False)
    w.symbol("base")
    w.flags(LISTSXP, has_tag=False)
    w.i4(13); w.i4(1); w.i4(13)  # INTSXP flags + n=1 + value 13
    w.flags(NILVALUE_SXP)
    # state: REALSXP [n, start, step]
    w.flags(REALSXP); w.i4(3)
    for v in (4.0, 1.0, 1.0):
        w.f8(v)
    w.flags(NILVALUE_SXP)  # altrep attributes
    w.attr_pairlist(
        [("names", lambda: w.strsxp(["id"])),
         ("row.names", lambda: w.intsxp([None, -4])),
         ("class", lambda: w.strsxp(["data.frame"]))]
    )
    rd = _Reader(bytes(w.buf))
    rd.header()
    from tab2neo_spark.sources.rdata import _to_dataframe

    df = _to_dataframe(rd.item())
    assert df["id"].tolist() == [1, 2, 3, 4]

    # int64 demotion: out-of-int32 values survive as doubles (R behavior)
    import tempfile, os
    big = pd.DataFrame({"x": pd.Series([5_000_000_000, 1], dtype="int64")})
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "big.rds")
        write_rds(path, big)
        got = read_r(path)[None]
        assert got["x"].tolist() == [5_000_000_000.0, 1.0]
        # the int32 NA sentinel itself must not silently become NA
        edge = pd.DataFrame({"x": pd.Series([-(2**31)], dtype="int64")})
        write_rds(path, edge)
        assert read_r(path)[None]["x"].tolist() == [float(-(2**31))]


def test_remove_repeated_regions(spark):
    """Cut step: tokens inside maximal repeated regions vanish; unique
    documents pass through whole; counts reconcile."""
    from tab2neo_spark.operators.dedup import remove_repeated_regions

    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [
            (1, f"{shared} keep one two three"),
            (2, f"zero {shared} tail words here"),
            (3, "entirely unique document text with no repeats"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           remove_repeated_regions(df, "text", "doc_id", n=4, min_count=2).collect()}
    assert out[1]["kept_text"] == "keep one two three"
    assert out[2]["kept_text"] == "zero tail words here"
    assert out[3]["kept_text"].startswith("entirely unique")
    assert out[3]["n_removed"] == 0
    assert out[1]["n_removed"] == 4 and out[1]["n_kept"] == 4


def test_pq_roundtrip_and_determinism(spark):
    """PQ: codebook is a pure function of the data (two trainings agree
    bit-for-bit); codes are valid indices; ADC top-k ranks the query's
    own cluster-mates first on a separable dataset."""
    from tab2neo_spark.operators.pq import pq_assign, pq_search_topk, pq_train

    # two well-separated clusters in 8-dim
    rows = [(i, [float(5 + (i % 3))] * 8) for i in range(20)]
    rows += [(100 + i, [float(-5 - (i % 3))] * 8) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb1 = pq_train(df, "embedding", "vec_id", m=2, k=4, sample=40, iters=5)
    cb2 = pq_train(df, "embedding", "vec_id", m=2, k=4, sample=40, iters=5)
    assert cb1 == cb2
    coded = pq_assign(df, "embedding", cb1)
    got = coded.select("vec_id", "pq_codes").collect()
    assert all(len(r["pq_codes"]) == 2 for r in got)
    assert all(0 <= c < 4 for r in got for c in r["pq_codes"])
    # vectors in the same cluster share codes; across clusters they differ
    by_id = {r["vec_id"]: tuple(r["pq_codes"]) for r in got}
    assert by_id[0] == by_id[3] and by_id[0] != by_id[100]
    top = pq_search_topk(coded, "pq_codes", "vec_id", [5.0] * 8, cb1, topk=5)
    assert all(r["vec_id"] < 100 for r in top.collect())  # right cluster
