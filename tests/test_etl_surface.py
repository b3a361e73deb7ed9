"""Unit tests for the ETL parity surface (schema apply, fixed width,
badgerfish, paths/mapping, validation, defaults, routing, sources)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cpx_etl_spark.functions.badgerfish import attributes, convert
from cpx_etl_spark.functions.schema_apply import assert_valid, schema_apply
from cpx_etl_spark.operators.patch import apply_defaults
from cpx_etl_spark.operators.routing import REJECTED, route, split
from cpx_etl_spark.operators.validation import validate
from cpx_etl_spark.plans.mapping import apply_mapping
from cpx_etl_spark.sources.file_resolver import FileResolver
from cpx_etl_spark.sources.fixed_width import Field, decode, encode
from cpx_etl_spark.sources.jdbc import jdbc_reader, jdbc_writer
from cpx_etl_spark.sources.xlsx import fake_workbook


def test_schema_apply_coercion_and_errors(spark):
    df = spark.createDataFrame(
        [("1", "12.9", "2020-01-02", "false"), ("", "oops", "0000-00-00", "yes")],
        "a string, b string, c string, d string",
    )
    out = schema_apply(
        df, {"a": "Number", "b": "number", "c": "Date", "d": "boolean"}
    ).collect()
    r0, r1 = out
    assert (r0["a"], r0["b"], r0["d"]) == (1, 12, False)  # parseInt truncates; 'false' -> False
    assert r0["c"].strftime("%Y-%m-%d") == "2020-01-02"
    assert r0["_errors"] == []
    # row 1: '' -> null (nullable Number ok), 'oops' -> number error,
    # '0000-00-00' -> null (nullable Date ok), 'yes' -> truthy boolean
    assert r1["a"] is None and r1["c"] is None and r1["d"] is True
    assert r1["_errors"] == ["b"]


def test_assert_valid_raises(spark):
    df = spark.createDataFrame([("x",)], "a string")
    bad = schema_apply(df, {"a": "number"})
    with pytest.raises(ValueError, match="coercion errors"):
        assert_valid(bad)


def test_fixed_width_nulls_and_clipping(spark):
    fields = [Field("n", 4, "number"), Field("s", 3, "string"), Field("b", 2, "boolean")]
    df = spark.createDataFrame(
        [(12, "abcdef", True), (None, None, False), (123456, "x", None)],
        "n long, s string, b boolean",
    )
    lines = [r["line"] for r in encode(df, fields).collect()]
    assert lines[0] == "0012abc01"
    assert lines[1] == " " * 7 + "00"  # blanks for null number/string, False -> '00'
    assert lines[2] == "1234x     "[:9]  # number clipped to width, bool null -> blank
    back = decode(encode(df, fields).select("line"), fields).collect()
    assert (back[0]["n"], back[0]["s"], back[0]["b"]) == (12, "abc", True)
    assert (back[1]["n"], back[1]["s"]) == (None, None)


def test_badgerfish_roundtrip_nested(spark):
    df = spark.createDataFrame([(1, ("x", 2))], "id long, obj struct<name:string,v:long>")
    bf = convert(df, to_bfish=True)
    assert set(bf.columns) == {"@id", "obj"}
    assert bf.schema["obj"].dataType.fieldNames() == ["@name", "@v"]
    back = convert(bf, to_bfish=False)
    assert set(back.columns) == {"id", "obj"}
    attrs = attributes(bf.select("@id"))
    assert attrs.columns == ["id"]


def test_mapping_array_elements(spark):
    df = spark.createDataFrame(
        [(1, [(10, "a"), (20, "b")])],
        "id long, rows array<struct<x:long,y:string>>",
    )
    out = apply_mapping(df, {"id": ["id"], "n": ["#rows"], "vals": ["rows", {"v": ["x"]}]})
    row = out.collect()[0]
    assert row["n"] == 2
    assert [e["v"] for e in row["vals"]] == [10, 20]


def test_mapping_bad_specs(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        apply_mapping(df, {"x": [123]})
    with pytest.raises(ValueError):
        apply_mapping(df, {"x": ["id", "extra"]})


def test_validation_null_is_invalid(spark):
    df = spark.createDataFrame([(None,), (5,)], "v int")
    out = validate(df, {"v": [("gt", 3)]}).collect()
    assert [r["valid_v"] for r in out] == [False, True]


def test_defaults_nested_struct(spark):
    df = spark.createDataFrame([((None, 1),), ((5, 2),)], "m struct<a:int,b:int>")
    out = apply_defaults(df, {"m.a": 99, "newcol": "filled"}).collect()
    assert [r["m"]["a"] for r in out] == [99, 5]
    assert {r["newcol"] for r in out} == {"filled"}


def test_route_first_match_wins_and_split(spark):
    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], "v int, t string")
    routes = [("small", {"v": [("lt", 3)]}), ("xs", {"t": ["x"]})]
    tagged = route(df, routes).collect()
    assert {r["v"]: r["_route"] for r in tagged} == {1: "small", 2: "small", 3: REJECTED}
    parts = split(df, routes)
    assert sorted(parts) == [REJECTED, "small", "xs"]
    assert parts["xs"].count() == 0  # first-match semantics: 'small' wins


def test_file_resolver(tmp_path):
    (tmp_path / "a" / "sub").mkdir(parents=True)
    (tmp_path / "a" / "f.json").write_text("{}")
    (tmp_path / "a" / "sub" / "g.json").write_text("{}")
    fr = FileResolver(str(tmp_path), {"a/": {"_": "*.json", "sub/": {"_": "*.json"}}})
    assert fr.resolve("a/f.json").endswith(os.path.join("a", "f.json"))
    assert fr.resolve("a/sub/g.json").endswith(os.path.join("a", "sub", "g.json"))
    with pytest.raises(FileNotFoundError):
        fr.resolve("a/missing.json")


def test_jdbc_plumbing(spark):
    reader = jdbc_reader(
        spark, "jdbc:postgresql://db/x", "t",
        partition_column="id", num_partitions=4, lower_bound=0, upper_bound=100,
    )
    assert reader is not None
    with pytest.raises(ValueError, match="lower_bound"):
        jdbc_reader(spark, "jdbc:x", "t", partition_column="id")
    df = spark.createDataFrame([(1,)], "a int")
    assert jdbc_writer(df, "jdbc:x", "t") is not None


def test_fake_workbook_sheets(spark):
    wb = fake_workbook(spark)
    assert set(wb) == {"people", "scores"}
    assert wb["people"].count() == 3


def test_flatten_leaf_values(spark):
    from cpx_etl_spark.functions.util import flatten_leaf_values

    df = spark.createDataFrame(
        [(1, ("x", 2), [10, 20], [(5, "a")], "meta")],
        "id long, obj struct<name:string,v:long>, nums array<long>, "
        "kids array<struct<k:long,s:string>>, _ string",
    )
    row = flatten_leaf_values(df).collect()[0]
    assert row["_values"] == ["1", "x", "2", "10", "20", "5", "a"]  # '_' skipped


def test_pipeline_derive_dependency_order(spark, sf_dir):
    from cpx_etl_spark.plans.pipeline import compile_pipeline

    # 'scaled' depends on 'k' but is declared FIRST; topo sort fixes it
    out = compile_pipeline(
        spark, sf_dir,
        {
            "source": "events",
            "derive": {
                "scaled": ("expr", "k * 10", ["k"]),
                "k": ("json", "props", "$.k"),
            },
        },
    ).select("k", "scaled").limit(5).collect()
    for r in out:
        assert r["scaled"] == float(r["k"]) * 10


def test_pipeline_derive_circular_raises(spark, sf_dir):
    from cpx_etl_spark.plans.pipeline import compile_pipeline

    with pytest.raises(ValueError, match="circular"):
        compile_pipeline(
            spark, sf_dir,
            {"source": "events",
             "derive": {"x": ("expr", "y", ["y"]), "y": ("expr", "x", ["x"])}},
        )


def test_xlsx_real_file_roundtrip(spark, tmp_path):
    """write_xlsx produces a genuine ECMA-376 zip that the library-free
    reader parses back bit-identically (types included)."""
    import zipfile

    from cpx_etl_spark.sources.xlsx import read_xlsx, read_xlsx_tables, write_xlsx

    path = str(tmp_path / "wb.xlsx")
    write_xlsx(
        path,
        {
            "people": (["name", "age", "city"],
                       [("Ann & Co", 34, "Lisbon"), ("Bo<b>", 28, "Oslo")]),
            "metrics": (["k", "v"], [("rate", 0.25), ("count", 7)]),
        },
    )
    assert zipfile.is_zipfile(path)  # real container, not a stub
    tables = read_xlsx_tables(path)
    assert tables["people"][1] == [("Ann & Co", 34, "Lisbon"), ("Bo<b>", 28, "Oslo")]
    assert tables["metrics"][1] == [("rate", 0.25), ("count", 7)]
    df = read_xlsx(spark, path)["people"]
    assert df.columns == ["name", "age", "city"]
    assert df.count() == 2


def test_xlsx_shared_strings_parsed(tmp_path):
    """Workbooks from other writers use the sharedStrings part; the
    reader must resolve t=\"s\" indices (our writer uses inline strings,
    so build the shared-string variant by hand)."""
    import zipfile

    from cpx_etl_spark.sources.xlsx import read_xlsx_tables, write_xlsx

    path = str(tmp_path / "ss.xlsx")
    write_xlsx(path, {"s": (["a"], [("x",)])})
    # rewrite sheet1 to reference a sharedStrings table instead
    with zipfile.ZipFile(path) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/sharedStrings.xml"] = (
        b'<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
        b'spreadsheetml/2006/main"><si><t>a</t></si><si><t>hello</t></si></sst>'
    )
    parts["xl/worksheets/sheet1.xml"] = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.'
        b'org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        b'<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
        b"</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    assert read_xlsx_tables(path)["s"] == (["a"], [("hello",)])


def test_upsert_ignores_uncommitted_partial_version(spark, tmp_path):
    """A crash mid-write leaves a version directory the manifest never
    pointed at — possibly TRUNCATED. The next run must not promote it
    (silent data loss); it must merge against the committed snapshot
    and garbage-collect the partial dir."""
    import os

    from cpx_etl_spark.sources.sinks import read_upsert_table, upsert_parquet_table

    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    upsert_parquet_table(df1, path, ["id"])
    # simulate a crashed run: a partial (here: wrong-content) version
    # dir beyond the committed one, manifest untouched
    partial = os.path.join(path, "v00000002")
    spark.createDataFrame([(9, "TRUNCATED")], "id long, v string") \
        .write.mode("overwrite").parquet(partial)
    upsert_parquet_table(
        spark.createDataFrame([(3, "c")], "id long, v string"), path, ["id"]
    )
    got = {r["id"]: r["v"] for r in read_upsert_table(spark, path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # partial never surfaced
    # first-ever-load variant (ADVICE r3): crash mid-write with NO
    # committed table at all — next load starts clean, no promotion
    path2 = str(tmp_path / "tbl2")
    os.makedirs(path2)
    spark.createDataFrame([(9, "TRUNCATED")], "id long, v string") \
        .write.mode("overwrite").parquet(os.path.join(path2, "v00000001"))
    upsert_parquet_table(df1, path2, ["id"])
    # the unreferenced partial was deleted before the fresh load, which
    # then committed its own v00000001 (data above proves no merge with
    # the truncated content ever happened)
    from cpx_etl_spark.sources.sinks import _read_manifest

    assert _read_manifest(path2) == "v00000001"
    got2 = {r["id"]: r["v"] for r in read_upsert_table(spark, path2).collect()}
    assert got2 == {1: "a", 2: "b"}


def test_upsert_commit_keeps_prior_snapshot_for_inflight_readers(spark, tmp_path):
    """Deterministic interleaving of the VERDICT r3 reader race: a
    reader resolves the manifest, an upsert commits underneath it, the
    reader then scans its resolved version — which must still exist
    (prior snapshots are collected only at the START of the next
    upsert, one full write-cycle later)."""
    import os

    from cpx_etl_spark.sources.sinks import (
        _read_manifest,
        read_upsert_table,
        upsert_parquet_table,
    )

    path = str(tmp_path / "tbl")
    upsert_parquet_table(
        spark.createDataFrame([(1, "a")], "id long, v string"), path, ["id"]
    )
    seen = _read_manifest(path)  # reader resolves the pointer...
    upsert_parquet_table(  # ...writer commits a new version under it
        spark.createDataFrame([(2, "b")], "id long, v string"), path, ["id"]
    )
    assert _read_manifest(path) != seen
    # the reader's resolved snapshot is intact and scannable
    old = {tuple(r) for r in spark.read.parquet(os.path.join(path, seen)).collect()}
    assert old == {(1, "a")}
    new = {tuple(r) for r in read_upsert_table(spark, path).collect()}
    assert new == {(1, "a"), (2, "b")}


def test_xlsx_reader_handles_implicit_refs_and_quotes(spark, tmp_path):
    """ECMA-376 allows cells without r= refs (implicit positions) and
    lowercase refs; sheet names with quotes must escape in attributes."""
    import zipfile

    from cpx_etl_spark.sources.xlsx import read_xlsx_tables, write_xlsx

    path = str(tmp_path / "q.xlsx")
    write_xlsx(path, {'Q3 "final"': (["a", "b"], [(1, 2)])})
    with zipfile.ZipFile(path) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.'
        b'org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="a1" t="inlineStr"><is><t>a</t></is></c>'
        b'<c t="inlineStr"><is><t>b</t></is></c></row>'
        b'<row r="2"><c><v>1</v></c><c><v>2</v></c></row>'
        b"</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    tables = read_xlsx_tables(path)
    assert tables['Q3 "final"'] == (["a", "b"], [(1, 2)])


def test_db_load_empty_result_keeps_schema(spark, tmp_path):
    from cpx_etl_spark.sources.db_load import load_to_database, read_from_database

    db = str(tmp_path / "e.duckdb")
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    load_to_database(df, db, "items", ["id"])
    out = read_from_database(spark, db, "SELECT * FROM items WHERE id > 99")
    assert out.count() == 0
    assert dict(out.dtypes) == {"id": "bigint", "name": "string"}


def test_db_load_upsert_semantics(spark, tmp_path):
    """Live-DB load: replay is a no-op, updates win on conflict, new
    keys insert — the reference load phase's insert-or-update contract
    against a real SQL database."""
    from cpx_etl_spark.sources.db_load import load_to_database, read_from_database

    db = str(tmp_path / "load.duckdb")
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)],
                               "id long, name string, v double")
    assert load_to_database(df, db, "items", ["id"]) == 2
    assert load_to_database(df, db, "items", ["id"]) == 2  # idempotent replay
    upd = spark.createDataFrame([(2, "b2", 9.9), (3, "c", 3.5)],
                                "id long, name string, v double")
    assert load_to_database(upd, db, "items", ["id"]) == 3
    out = {r["id"]: (r["name"], r["v"]) for r in
           read_from_database(spark, db, "SELECT * FROM items").collect()}
    assert out == {1: ("a", 1.5), 2: ("b2", 9.9), 3: ("c", 3.5)}


def test_multimodal_decode_image_is_real_and_fails_loud():
    """decode_image was the repo's one explicit stub until r15; it is
    now a real pure-stdlib decoder (pinned byte-for-byte in
    test_dedup_similarity). Here: unknown magic fails LOUD with a
    typed error, never a silent fake."""
    from cpx_etl_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError, match="unknown image container"):
        decode_image(b"\x00not-an-image")


def test_xsl_transform_delegates_to_interpreter():
    """sources.xml_badgerfish.xsl_transform is the reference's
    xslPipeline entry (index.js:87-126) and delegates to the real
    interpreter in functions/xslt.py (was a stale stub until r7)."""
    from cpx_etl_spark.sources.xml_badgerfish import xsl_transform

    xsl = (
        '<xsl:stylesheet version="1.0" '
        'xmlns:xsl="http://www.w3.org/1999/XSL/Transform">'
        '<xsl:template match="root">'
        '<out><xsl:value-of select="item"/></out>'
        "</xsl:template></xsl:stylesheet>"
    )
    result = xsl_transform("<root><item>42</item></root>", [xsl])
    assert "<out>42</out>" in result


def test_xsl_chain_order_and_fusion(spark, tmp_path):
    """Chain steps apply in xi:include document order, and N projection
    steps fuse into ONE pass (no per-step materialization)."""
    import json

    from cpx_etl_spark.plans.xsl_chain import apply_chain_from_control, load_chain

    (tmp_path / "s1.json").write_text(json.dumps({"a2": ["a"], "keep": ["b"]}))
    (tmp_path / "s2.json").write_text(json.dumps({"final": ["a2"]}))
    (tmp_path / "ctl.xml").write_text(
        '<transform xmlns:xi="http://www.w3.org/2001/XInclude">'
        '<xi:include href="s1.json"/><xi:include href="s2.json"/></transform>'
    )
    specs = load_chain(str(tmp_path / "ctl.xml"))
    assert [list(s) for s in specs] == [["a2", "keep"], ["final"]]  # document order
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    out = apply_chain_from_control(df, str(tmp_path / "ctl.xml"))
    assert out.columns == ["final"] and out.first()["final"] == 1
    # step2 referencing a column step1 dropped must fail (true chaining)
    (tmp_path / "s2.json").write_text(json.dumps({"final": ["b"]}))
    with pytest.raises(Exception):
        apply_chain_from_control(df, str(tmp_path / "ctl.xml")).collect()
    # fusion: the optimized plan has a single Project over the scan
    (tmp_path / "s2.json").write_text(json.dumps({"final": ["a2"]}))
    plan = apply_chain_from_control(df, str(tmp_path / "ctl.xml"))._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Project") == 1


def test_upsert_parquet_table_idempotent(spark, tmp_path):
    from cpx_etl_spark.sources.sinks import read_upsert_table, upsert_parquet_table

    path = str(tmp_path / "tbl")
    rows = [(1, "a"), (2, "b")]
    df = spark.createDataFrame(rows, "id long, v string")
    upsert_parquet_table(df, path, ["id"])
    upsert_parquet_table(df, path, ["id"])  # identical re-load: no growth
    got = sorted(tuple(r) for r in read_upsert_table(spark, path).collect())
    assert got == rows
    # updates win, inserts append
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    upsert_parquet_table(upd, path, ["id"])
    got = sorted(tuple(r) for r in read_upsert_table(spark, path).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_upsert_migrates_legacy_flat_parquet_dir(spark, tmp_path):
    from cpx_etl_spark.sources.sinks import read_upsert_table, upsert_parquet_table

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .write.mode("overwrite").parquet(path)  # pre-existing flat table
    upsert_parquet_table(
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"), path, ["id"]
    )
    got = sorted(tuple(r) for r in read_upsert_table(spark, path).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


# ---------------------------------------------------------------------------
# XSLT-subset executor (functions/xslt.py) — reference index.js:87-126
# ---------------------------------------------------------------------------

_XSL_A = """<xsl:stylesheet version="1.0"
    xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:template match="/"><people><xsl:apply-templates/></people></xsl:template>
  <xsl:template match="person">
    <xsl:if test="@father = 'Terah'">
      <child name="{@name}"><xsl:value-of select="@name"/></child>
    </xsl:if>
  </xsl:template>
</xsl:stylesheet>
"""

_XSL_B = """<xsl:stylesheet version="1.0"
    xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
  <xsl:template match="/"><names><xsl:apply-templates/></names></xsl:template>
  <xsl:template match="child"><n><xsl:value-of select="@name"/></n></xsl:template>
</xsl:stylesheet>
"""


def test_xslt_chain_applies_in_document_order(tmp_path):
    """xi:include chain semantics (the reference's xslPipeline applied
    to its familyTree-style rows): step order matters, each step eats
    the previous step's serialized output."""
    from cpx_etl_spark.functions.xslt import compile_stylesheet, xslt_pipeline
    from cpx_etl_spark.plans.xsl_chain import load_stylesheet_chain

    (tmp_path / "a.xsl").write_text(_XSL_A)
    (tmp_path / "b.xsl").write_text(_XSL_B)
    control = tmp_path / "transform.xml"
    control.write_text(
        '<transform xmlns:xi="http://www.w3.org/2001/XInclude">\n'
        '  <xi:include href="a.xsl"/>\n  <xi:include href="b.xsl"/>\n'
        "</transform>\n"
    )
    srcs = load_stylesheet_chain(str(control))
    assert len(srcs) == 2 and "child" in srcs[0]
    fns = [compile_stylesheet(s) for s in srcs]
    doc = ('<tree>'
           '<person name="Sarah" father="Terah"/>'
           '<person name="Abraham" father="Terah"/>'
           '<person name="Isaac" father="Abraham"/>'
           '</tree>')
    out = xslt_pipeline(doc, fns)
    assert out == "<names><n>Sarah</n><n>Abraham</n></names>"
    # order matters: reversed chain finds no <child> elements, and the
    # last step's wrapper becomes the output root
    assert xslt_pipeline(doc, fns[::-1]) == "<people/>"


def test_xslt_subset_features_and_guards():
    from cpx_etl_spark.functions.xslt import MiniXslt, XsltUnsupported

    s = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:choose>
          <xsl:when test="n &gt; 10"><big v="{n}"/></xsl:when>
          <xsl:otherwise><small/></xsl:otherwise>
        </xsl:choose>
        <xsl:for-each select="tag[@k='x']"><t><xsl:value-of select="."/></t></xsl:for-each>
        <xsl:text>&amp;done</xsl:text>
      </xsl:template>
    </xsl:stylesheet>"""
    run = MiniXslt(s).apply
    assert (run('<doc><n>42</n><tag k="x">a&amp;b</tag><tag k="y">c</tag></doc>')
            == '<r><big v="42"/><t>a&amp;b</t>&amp;done</r>')
    assert run("<doc><n>3</n></doc>") == "<r><small/>&amp;done</r>"
    # match specificity: parent/child beats bare name beats *
    s2 = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="b"><plain/></xsl:template>
      <xsl:template match="a/b"><nested/></xsl:template>
    </xsl:stylesheet>"""
    assert MiniXslt(s2).apply("<a><b/></a>") == "<nested/>"
    # out-of-subset constructs raise instead of silently mis-transforming
    import pytest as _pytest

    # r8: xsl:apply-imports is now IN subset — with nothing imported it
    # falls through to the built-in rule (XSLT 1.0 section 5.6), which
    # for an empty doc produces empty output rather than raising
    ai = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><r><xsl:apply-imports/></r></xsl:template>
    </xsl:stylesheet>"""
    assert MiniXslt(ai).apply("<doc>t</doc>") == "<r>t</r>"
    # a still-unsupported construct keeps the fail-fast contract
    bad = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><xsl:number level="multiple"/></xsl:template>
    </xsl:stylesheet>"""
    with _pytest.raises(XsltUnsupported):
        MiniXslt(bad).apply("<doc/>")
    # divergent recursion fails fast, not with a 1000-frame stack blowup
    loop = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="/"><r><xsl:apply-templates select="."/></r></xsl:template>
    </xsl:stylesheet>"""
    with _pytest.raises(XsltUnsupported):
        MiniXslt(loop).apply("<doc/>")


def test_xlsx_error_cells_read_as_null(tmp_path):
    """t='e' error cells (#DIV/0!, #N/A) become NULL with a warning —
    never error TEXT inside an otherwise-numeric column."""
    import warnings
    import zipfile

    from cpx_etl_spark.sources.xlsx import read_xlsx_tables, write_xlsx

    path = str(tmp_path / "err.xlsx")
    write_xlsx(path, {"S": (["a", "b"], [(1.0, 2.0)])})
    with zipfile.ZipFile(path) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    parts["xl/worksheets/sheet1.xml"] = (
        b'<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.'
        b'org/spreadsheetml/2006/main"><sheetData>'
        b'<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
        b'<c r="B1" t="inlineStr"><is><t>b</t></is></c></row>'
        b'<row r="2"><c r="A2"><v>1.5</v></c>'
        b'<c r="B2" t="e"><v>#DIV/0!</v></c></row>'
        b'<row r="3"><c r="A3"><v>2.5</v></c><c r="B3"><v>7</v></c></row>'
        b"</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tables = read_xlsx_tables(path)
    header, rows = tables["S"]
    assert header == ["a", "b"]
    assert rows == [(1.5, None), (2.5, 7.0)]
    assert any("B2" in str(w.message) for w in caught)


_XSL_NS = 'xmlns:xsl="http://www.w3.org/1999/XSL/Transform"'


def _mini(s):
    from cpx_etl_spark.functions.xslt import MiniXslt

    return MiniXslt(s).apply


def test_xslt_variables_params_scoping():
    """xsl:variable / xsl:param (r6): global + local bindings, select
    and result-tree-fragment bodies, $var in value-of / AVT / tests,
    lexical shadowing."""
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:variable name="site" select="'corpus'"/>
      <xsl:variable name="frag"><x>rtf-<xsl:value-of select="$site"/></x></xsl:variable>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:variable name="n" select="count"/>
        <out site="{{$site}}">
          <xsl:if test="$n &gt;= 10"><big n="{{$n}}"/></xsl:if>
          <xsl:value-of select="$frag"/>
          <xsl:for-each select="item">
            <xsl:variable name="site" select="@id"/>
            <i><xsl:value-of select="$site"/></i>
          </xsl:for-each>
          <tail><xsl:value-of select="$site"/></tail>
        </out>
      </xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)('<doc><count>42</count><item id="a"/><item id="b"/></doc>')
    # $frag's string-value is its text content; the for-each shadows
    # $site per iteration and the outer binding is restored after
    assert out == ('<r><out site="corpus"><big n="42"/>rtf-corpus'
                   '<i>a</i><i>b</i><tail>corpus</tail></out></r>')
    # a numeric-literal global compares as a number, a global path
    # select evaluates against the document, and a local variable body
    # renders with both in scope
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:variable name="n" select="3"/>
      <xsl:variable name="docid" select="/doc/@id"/>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:variable name="body">b-<xsl:value-of select="$docid"/>-<xsl:value-of select="$n"/></xsl:variable>
        <xsl:if test="$n &gt; 2"><gt2/></xsl:if>
        <xsl:if test="$n &gt; 3"><gt3/></xsl:if>
        <v><xsl:value-of select="$body"/></v>
      </xsl:template>
    </xsl:stylesheet>"""
    assert _mini(s)('<doc id="D7"/>') == "<r><gt2/><v>b-D7-3</v></r>"


def test_xslt_named_templates_call_with_param():
    """xsl:call-template + xsl:with-param (r6); xsl:param defaults used
    when the caller omits a parameter."""
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template name="row">
        <xsl:param name="label" select="'none'"/>
        <xsl:param name="val" select="v"/>
        <row l="{{$label}}" v="{{$val}}"/>
      </xsl:template>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:call-template name="row">
          <xsl:with-param name="label" select="'first'"/>
          <xsl:with-param name="val" select="'7'"/>
        </xsl:call-template>
        <xsl:call-template name="row"/>
      </xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)("<doc><v>9</v></doc>")
    assert out == '<r><row l="first" v="7"/><row l="none" v="9"/></r>'

    import pytest as _pytest

    from cpx_etl_spark.functions.xslt import MiniXslt, XsltUnsupported

    missing = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><xsl:call-template name="nope"/></xsl:template>
    </xsl:stylesheet>"""
    with _pytest.raises(XsltUnsupported):
        MiniXslt(missing).apply("<doc/>")


def test_xslt_sort_text_number_multikey():
    """xsl:sort (r6): text vs number data-types, descending order,
    stable multi-key, in both for-each and apply-templates."""
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <byname>
          <xsl:for-each select="p">
            <xsl:sort select="@grp"/>
            <xsl:sort select="@age" data-type="number" order="descending"/>
            <p n="{{@name}}"/>
          </xsl:for-each>
        </byname>
        <bynum>
          <xsl:apply-templates select="p">
            <xsl:sort select="@age" data-type="number"/>
          </xsl:apply-templates>
        </bynum>
      </xsl:template>
      <xsl:template match="p"><q a="{{@age}}"/></xsl:template>
    </xsl:stylesheet>"""
    doc = ('<doc>'
           '<p name="ada" grp="b" age="9"/>'
           '<p name="bob" grp="a" age="100"/>'
           '<p name="cid" grp="a" age="20"/>'
           '</doc>')
    out = _mini(s)(doc)
    # text sort on age would give 100 < 20 < 9; number sort must not
    assert out == ('<r><byname><p n="bob"/><p n="cid"/><p n="ada"/></byname>'
                   '<bynum><q a="9"/><q a="20"/><q a="100"/></bynum></r>')


def test_xslt_copy_of_nodes_and_rtf():
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:variable name="hdr"><h k="1">t&amp;x</h></xsl:variable>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:copy-of select="$hdr"/>
        <xsl:copy-of select="keep"/>
      </xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)('<doc><keep a="b">in<deep/>ner</keep><drop/></doc>')
    assert out == '<r><h k="1">t&amp;x</h><keep a="b">in<deep/>ner</keep></r>'


def test_xslt_bracket_aware_paths():
    """Predicates containing path steps (ADVICE r5): match="a[b/c]" and
    select steps like item[meta/flag='y'] parse and evaluate instead of
    raising from inside the step parser."""
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:for-each select="item[meta/flag='y']"><hit id="{{@id}}"/></xsl:for-each>
      </xsl:template>
      <xsl:template match="side[a/b]"><nested/></xsl:template>
      <xsl:template match="side"><plain/></xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)(
        '<doc><item id="1"><meta><flag>y</flag></meta></item>'
        '<item id="2"><meta><flag>n</flag></meta></item></doc>'
    )
    assert out == '<r><hit id="1"/></r>'
    out2 = _mini(s)('<side><a><b/></a></side>')
    assert out2 == "<r><nested/></r>"
    out3 = _mini(s)('<side><a/></side>')
    assert out3 == "<r><plain/></r>"


def test_xslt_deep_document_does_not_trip_recursion_guard():
    """Built-in-rule descent through a deep document is not template
    recursion (ADVICE r5): a 120-element-deep tree transforms fine,
    while a genuinely divergent template still fails fast."""
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="leaf"><found/></xsl:template>
    </xsl:stylesheet>"""
    deep = "<a>" * 120 + "<leaf/>" + "</a>" * 120
    assert _mini(s)(deep) == "<found/>"
    # template-dispatched descent (one template invocation per level)
    # also works at document depths beyond the old 64 cap
    s2 = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="a"><d><xsl:apply-templates/></d></xsl:template>
      <xsl:template match="leaf"><found/></xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s2)(deep)
    assert out == "<d>" * 120 + "<found/>" + "</d>" * 120


def test_xslt_absolute_select_path():
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><r><xsl:apply-templates select="doc/item"/></r></xsl:template>
      <xsl:template match="item"><i t="{{/doc/title}}" v="{{.}}"/></xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)("<doc><title>T</title><item>a</item><item>b</item></doc>")
    assert out == '<r><i t="T" v="a"/><i t="T" v="b"/></r>'


def test_xslt_position_last_count_and_index_predicates():
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <n c="{{count(item)}}"/>
        <xsl:for-each select="item">
          <i p="{{position()}}" of="{{last()}}"><xsl:value-of select="."/></i>
        </xsl:for-each>
        <second><xsl:value-of select="item[2]"/></second>
        <final><xsl:value-of select="item[last()]"/></final>
        <xsl:for-each select="item[position() &lt; 3]"><early/></xsl:for-each>
      </xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)("<doc><item>a</item><item>b</item><item>c</item></doc>")
    assert out == ('<r><n c="3"/>'
                   '<i p="1" of="3">a</i><i p="2" of="3">b</i><i p="3" of="3">c</i>'
                   '<second>b</second><final>c</final>'
                   '<early/><early/></r>')

    # position() with no iteration context fails fast, not silently
    import pytest as _pytest

    from cpx_etl_spark.functions.xslt import MiniXslt, XsltUnsupported

    bad = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><x v="{{position()}}"/></xsl:template>
    </xsl:stylesheet>"""
    with _pytest.raises(XsltUnsupported):
        MiniXslt(bad).apply("<doc/>")


def test_xslt_element_and_attribute_constructors():
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <xsl:element name="{{@kind}}">
          <xsl:attribute name="id"><xsl:value-of select="@n"/>-x</xsl:attribute>
          <xsl:attribute name="q">a&amp;b</xsl:attribute><xsl:text>body</xsl:text>
        </xsl:element>
        <lit static="s">
          <xsl:attribute name="dyn"><xsl:value-of select="@n"/></xsl:attribute>
        </lit>
      </xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)('<doc kind="widget" n="7"/>')
    assert out == ('<r><widget id="7-x" q="a&amp;b">body</widget>'
                   '<lit static="s" dyn="7"/></r>')


def test_xslt_string_functions():
    s = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><r><xsl:apply-templates/></r></xsl:template>
      <xsl:template match="doc">
        <a v="{{concat(@pre, '-', name, '-', 7)}}"/>
        <b l="{{string-length(name)}}" n="{{normalize-space(messy)}}"/>
        <c s="{{string(@pre)}}"/>
      </xsl:template>
    </xsl:stylesheet>"""
    out = _mini(s)(
        '<doc pre="x"><name>spark</name><messy>  a   b  \n c </messy></doc>'
    )
    assert out == '<r><a v="x-spark-7"/><b l="5" n="a b c"/><c s="x"/></r>'

    # unknown functions still fail fast
    import pytest as _pytest

    from cpx_etl_spark.functions.xslt import MiniXslt, XsltUnsupported

    # r8: generate-id() is now IN subset; a genuinely unknown function
    # keeps failing fast
    gid = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><x v="{{generate-id(.)}}"/></xsl:template>
    </xsl:stylesheet>"""
    out_gid = MiniXslt(gid).apply("<doc/>")
    assert 'v="d' in out_gid
    bad = f"""<xsl:stylesheet version="1.0" {_XSL_NS}>
      <xsl:template match="/"><x v="{{system-property('xsl:version')}}"/></xsl:template>
    </xsl:stylesheet>"""
    with _pytest.raises(XsltUnsupported):
        MiniXslt(bad).apply("<doc/>")


def test_xslt_chain_document_lookup(spark, tmp_path):
    """document(uri) works through the DISTRIBUTED chain path:
    xslt_transform_column ships base_dir in the closure, each task
    resolves the lookup file once and caches the tree."""
    (tmp_path / "codes.xml").write_text(
        '<map><e k="A" v="alpha"/><e k="B" v="beta"/></map>'
    )
    xsl = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="r">
        <xsl:variable name="kk" select="c"/>
        <out v="{document('codes.xml')/map/e[@k = $kk]/@v}"/>
      </xsl:template>
    </xsl:stylesheet>"""
    from pyspark.sql import functions as F

    from cpx_etl_spark.plans.xsl_chain import xslt_transform_column

    df = spark.createDataFrame([("A",), ("B",), ("A",)], "c string").select(
        F.concat(F.lit("<r><c>"), "c", F.lit("</c></r>")).alias("doc")
    )
    out = xslt_transform_column(df, "doc", "xml", [xsl], base_dir=str(tmp_path))
    got = sorted(r["xml"] for r in out.collect())
    assert got == ['<out v="alpha"/>', '<out v="alpha"/>', '<out v="beta"/>']


def test_expectations_degenerate_inputs_fail_closed(spark):
    """Empty tables / all-NULL columns must FAIL value expectations
    (passed=False, never NULL), and mean_between must average over
    non-NULL values only (code-review r11)."""
    from cpx_etl_spark.operators.validation import expectations_report

    empty = spark.createDataFrame([], "x double")
    out = {
        r["expectation"]: (r["observed"], r["passed"])
        for r in expectations_report(
            empty,
            [
                {"kind": "min_at_least", "col": "x", "value": 0},
                {"kind": "max_at_most", "col": "x", "value": 10},
                {"kind": "mean_between", "col": "x", "lo": 0, "hi": 1},
                {"kind": "row_count_at_least", "value": 1},
            ],
        ).collect()
    }
    for name, (obs, passed) in out.items():
        assert passed is False, f"{name}: passed={passed!r} (want False)"
    # NULLs excluded from the mean: values (2.0, NULL, 4.0) -> mean 3.0
    df = spark.createDataFrame([(2.0,), (None,), (4.0,)], "x double")
    rows = {
        r["expectation"]: r
        for r in expectations_report(
            df, [{"kind": "mean_between", "col": "x", "lo": 2.5, "hi": 3.5}]
        ).collect()
    }
    r = rows["mean_between_x"]
    assert r["observed"] == 3.0 and r["passed"] is True


def test_expectations_names_unique_and_overridable(spark):
    """Two same-kind+col specs must emit DISTINGUISHABLE verdict rows
    (ADVICE r11): repeated derived names get a #<spec-index> suffix,
    and an explicit spec name wins outright."""
    from cpx_etl_spark.operators.validation import expectations_report

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    rows = expectations_report(
        df,
        [
            {"kind": "mean_between", "col": "x", "lo": 0, "hi": 10},
            {"kind": "mean_between", "col": "x", "lo": 5, "hi": 6},
            {"kind": "unique", "col": "x", "name": "x_is_pk"},
        ],
    ).collect()
    names = [r["expectation"] for r in rows]
    assert len(names) == len(set(names)) == 3
    by = {r["expectation"]: r["passed"] for r in rows}
    assert by["mean_between_x"] is True        # mean 2.0 in [0, 10]
    assert by["mean_between_x#1"] is False     # 2.0 not in [5, 6]
    assert by["x_is_pk"] is True


def test_kafka_source_options_compile(spark):
    """Kafka reader spec -> connector option map (VERDICT r14 item 5,
    the jdbc.py pattern: no broker in-container, the constructed plan
    options ARE the contract)."""
    from cpx_etl_spark.sources.kafka import (
        kafka_reader,
        kafka_source_options,
    )

    opts = kafka_source_options(
        "b1:9092,b2:9092", subscribe=["clicks", "orders"],
        starting_offsets={"clicks": {0: 42, 1: -2}},
        max_offsets_per_trigger=10_000, min_partitions=64,
        group_id_prefix="cpx",
    )
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "clicks,orders"
    assert opts["startingOffsets"] == '{"clicks":{"0":42,"1":-2}}'
    assert opts["maxOffsetsPerTrigger"] == "10000"
    assert opts["minPartitions"] == "64"
    assert opts["failOnDataLoss"] == "false"
    assert opts["groupIdPrefix"] == "cpx"

    # explicit partition placement + bounded batch replay
    opts = kafka_source_options(
        "b:9092", assign={"t": [2, 0, 1]},
        starting_offsets="earliest", ending_offsets="latest",
    )
    assert opts["assign"] == '{"t":[0,1,2]}'
    assert opts["endingOffsets"] == "latest"

    # spec validation: exactly one subscription mode, sane offsets
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exactly one"):
        kafka_source_options("b:9092")
    with _pytest.raises(ValueError, match="exactly one"):
        kafka_source_options("b:9092", subscribe="t", subscribe_pattern="t.*")
    with _pytest.raises(ValueError, match="earliest"):
        kafka_source_options("b:9092", subscribe="t", starting_offsets="now")
    with _pytest.raises(ValueError, match="positive"):
        kafka_source_options("b:9092", subscribe="t",
                             max_offsets_per_trigger=0)

    # mode-specific connector rules caught at compile time
    # (code-review r15): endingOffsets is never 'earliest', is
    # batch-only, and a batch read can't start at 'latest'
    with _pytest.raises(ValueError, match="ending_offsets"):
        kafka_source_options("b:9092", subscribe="t",
                             ending_offsets="earliest")
    with _pytest.raises(ValueError, match="batch-only"):
        kafka_reader(spark, streaming=True, bootstrap_servers="b:9092",
                     subscribe="t", ending_offsets="latest")
    with _pytest.raises(ValueError, match="batch Kafka read"):
        kafka_reader(spark, streaming=False, bootstrap_servers="b:9092",
                     subscribe="t", starting_offsets="latest")

    # reader objects construct for both replay (batch) and streaming
    assert kafka_reader(spark, streaming=False, bootstrap_servers="b:9092",
                        subscribe="t") is not None
    assert kafka_reader(spark, streaming=True, bootstrap_servers="b:9092",
                        subscribe_pattern="t.*") is not None


def test_kafka_sink_options_and_wire_roundtrip(spark):
    """Sink spec -> idempotent-producer option map, and the JSON
    encode/decode wire plan roundtrips typed rows without a broker."""
    from cpx_etl_spark.sources.kafka import (
        decode_kafka_json,
        encode_kafka_json,
        kafka_sink_options,
        kafka_writer,
    )

    opts = kafka_sink_options("b:9092", "out")
    assert opts["kafka.enable.idempotence"] == "true"
    assert opts["kafka.acks"] == "all"
    assert opts["kafka.compression.type"] == "lz4"
    assert opts["kafka.max.in.flight.requests.per.connection"] == "5"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_in_flight"):
        kafka_sink_options("b:9092", "out", max_in_flight=6)

    rows = spark.createDataFrame(
        [(1, "click", 2.5), (2, "view", 0.5)],
        "user_id long, event_type string, value double",
    )
    wire = encode_kafka_json(rows, "user_id")
    assert wire.columns == ["key", "value"]
    # decode side: fake the full source wire frame around the payload
    from pyspark.sql import functions as F
    src = wire.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit("t").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    back = decode_kafka_json(
        src, "event_type string, value double", key_as="user_id"
    )
    got = sorted((r["user_id"], r["event_type"], r["value"], r["topic"])
                 for r in back.collect())
    assert got == [("1", "click", 2.5, "t"), ("2", "view", 0.5, "t")]

    # streaming writer refuses to run without replay tracking
    with _pytest.raises(ValueError, match="checkpoint"):
        kafka_writer(wire, bootstrap_servers="b:9092", topic="out")
    assert kafka_writer(wire, streaming=False,
                        bootstrap_servers="b:9092", topic="out") is not None


def test_parse_xml_column_edge_rows(spark, tmp_path):
    """parse_xml_column's per-row contract (sources/xml_badgerfish.py):
    a NULL or malformed document gives NULL attributes instead of
    failing the query; entities decode; attribute spaces are kept; a
    namespaced n:id is not @id; the two DTD shapes parse to NULL; an
    external SYSTEM entity is never read."""
    from cpx_etl_spark.sources.registry import local_frame
    from cpx_etl_spark.sources.xml_badgerfish import parse_xml_column

    canary = tmp_path / "canary.txt"
    canary.write_text("CANARY-7f3a")
    docs = [
        (None, (None, None)),
        ('<p id="1"', (None, None)),
        ('<p id="a &amp; b" name="n"/>', ("a & b", "n")),
        ('<p id="  x  " name=""/>', ("  x  ", "")),
        ('<p xmlns:n="urn:n" n:id="5" name="z"/>', (None, "z")),
        ('<p id="&undef;" name="k"/>', (None, None)),
        # ElementTree expands the internal entity to ('ent', 'k')
        ('<!DOCTYPE p [<!ENTITY e "ent">]><p id="&e;" name="k"/>', (None, None)),
        # ElementTree reads the undefined entity as ('', 'k')
        ('<!DOCTYPE p SYSTEM "p.dtd"><p id="&undef;" name="k"/>', (None, None)),
        (f'<!DOCTYPE p [<!ENTITY x SYSTEM "{canary.as_uri()}">]>'
         '<p id="&x;" name="k"/>', (None, None)),
    ]
    df = local_frame(spark, [(i, d) for i, (d, _) in enumerate(docs)],
                     "i int, xml string")
    out = parse_xml_column(df, "xml", ["id", "name"], "`@id` string, `@name` string")
    assert out.columns == ["@id", "@name"]
    got = [tuple(r) for r in out.collect()]
    assert got == [want for _, want in docs]
    assert not any("CANARY" in str(v) for r in got for v in r)


def test_unicode_normalize_forms_match_unicodedata(spark):
    """The four ICU4J forms equal Python's unicodedata on characters
    assigned in both Unicode versions; NULL stays NULL."""
    import unicodedata

    from cpx_etl_spark.functions.unicode import unicode_normalize
    from cpx_etl_spark.sources.registry import local_frame

    # escape-spelled so an editor cannot normalize the source
    probes = [
        "cafe\u0301",  # decomposed e + acute
        "\u00e9",  # precomposed e-acute
        "\ufb01ne",  # fi ligature
        "\u2460\u2461",  # circled digits
        "\ud55c\uae00",  # precomposed Hangul syllables
        "\u1112\u1161\u11ab",  # conjoining Hangul jamo
        "\uff26\uff55\uff4c\uff4c",  # fullwidth letters
        "a\u0323\u0302\u0301",  # stacked combining marks
        "\u212b\u2126",  # Angstrom and Ohm signs (singletons)
        "x\u00b2\u2075",  # superscripts
    ]
    df = local_frame(spark, [(i, s) for i, s in enumerate(probes + [None])],
                     "i int, s string")
    forms = ("NFC", "NFD", "NFKC", "NFKD")
    rows = df.select(
        "i", *[unicode_normalize(F.col("s"), f).alias(f) for f in forms]
    ).orderBy("i").collect()
    for s, row in zip(probes + [None], rows):
        for f in forms:
            want = None if s is None else unicodedata.normalize(f, s)
            assert row[f] == want, (s, f)
    with pytest.raises(ValueError):
        unicode_normalize(F.col("s"), "NFX")
