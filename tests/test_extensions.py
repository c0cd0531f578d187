"""Extension-surface tests: register_format / register_content_encoding /
register_content_media_type (boon tests/examples.rs:124-230 parity),
$anchor resolution, and http(s) schema loading."""

import json
import threading

import pytest
from pyspark.sql import functions as F

from boon_spark import (Engine, CompileError, register_content_encoding,
                        register_content_media_type, register_format)


def test_register_format_column_expr(spark):
    register_format("even-length", lambda c: F.length(c) % 2 == 0,
                    column_expr=True)
    eng = Engine.from_schema({"properties": {"s": {"format": "even-length"}}},
                             assert_format=True)
    df = spark.createDataFrame([("ab",), ("abc",)], "s string")
    got = [r.valid for r in eng.annotate(df).collect()]
    assert got == [True, False]


def test_register_format_vectorized_python(spark):
    register_format("palindrome", lambda s: s == s[::-1])
    eng = Engine.from_schema({"properties": {"s": {"format": "palindrome"}}},
                             assert_format=True)
    df = spark.createDataFrame([("aba",), ("abc",)], "s string")
    assert [r.valid for r in eng.annotate(df).collect()] == [True, False]


def test_register_content_encoding(spark):
    # hex encoding, like boon's example (tests/examples.rs:158-200)
    register_content_encoding(
        "hex", lambda c: F.try_to_binary(c, F.lit("hex")).cast("string"))
    eng = Engine.from_schema(
        {"properties": {"b": {"contentEncoding": "hex"}}},
        assert_content=True)
    df = spark.createDataFrame([("deadbeef",), ("xyz",)], "b string")
    assert [r.valid for r in eng.annotate(df).collect()] == [True, False]


def test_register_content_media_type(spark):
    register_content_media_type(
        "text/csv", lambda c: F.size(F.split(c, ",")) >= 2)
    eng = Engine.from_schema(
        {"properties": {"b": {"contentMediaType": "text/csv"}}},
        assert_content=True)
    df = spark.createDataFrame([("a,b,c",), ("nocommas",)], "b string")
    assert [r.valid for r in eng.annotate(df).collect()] == [True, False]


def test_unknown_encoding_is_compile_error(spark):
    eng = Engine.from_schema(
        {"properties": {"b": {"contentEncoding": "rot13"}}},
        assert_content=True)
    df = spark.createDataFrame([("x",)], "b string")
    with pytest.raises(CompileError, match="register_content_encoding"):
        eng.annotate(df)


def test_unknown_format_is_compile_error():
    # fail-fast at compile (boon ignores unknown formats as annotations,
    # compiler.rs:488-502; we assert formats, so unknown must error
    # cleanly — a raw KeyError would bypass the CLI's CompileError handler)
    with pytest.raises(CompileError, match="register_format"):
        Engine.from_schema({"properties": {"x": {"format": "iri-x"}}},
                           assert_format=True)


def test_udf_format_under_items_is_compile_error(spark):
    # a pandas UDF cannot run inside a higher-order function: the builder
    # refuses it by keyword location instead of Spark's AnalysisException
    eng = Engine.from_schema(
        {"properties": {"xs": {"items": {"format": "idn-email"}}}},
        assert_format=True)
    df = spark.createDataFrame([(["a@b.com"],)], "xs array<string>")
    with pytest.raises(CompileError,
                       match="/properties/xs/items/format: format 'idn-email'"):
        eng.annotate(df)


def test_anchor_resolution(spark):
    eng = Engine.from_schema({
        "$defs": {"pos": {"$anchor": "positive", "minimum": 0}},
        "properties": {"x": {"$ref": "#positive"}},
    })
    df = spark.createDataFrame([(1,), (-1,)], "x int")
    assert [r.valid for r in eng.annotate(df).collect()] == [True, False]


def test_http_schema_loading(tmp_path):
    import http.server
    import socketserver

    from boon_spark.cli import load_schema

    doc = {"properties": {"x": {"minimum": 0}}}
    (tmp_path / "s.json").write_text(json.dumps(doc))

    class H(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), H) as srv:
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        got = load_schema(f"http://127.0.0.1:{port}/s.json")
        srv.shutdown()
    assert got == doc


def test_unevaluated_with_dynamic_applicator(spark):
    # round 1 rejected this shape at compile; round 2 implements the
    # runtime annotation flow (boon's Uneval merge,
    # validator.rs:930-968) — `a` is evaluated by the anyOf branch iff
    # the branch validates, so only `b` is unevaluated
    from boon_spark import Engine
    eng = Engine.from_schema({
        "anyOf": [{"properties": {"a": {"type": "string"}}}],
        "unevaluatedProperties": False})
    df = spark.createDataFrame([("x", "y"), ("x", None)],
                               "a string, b string")
    assert [r.valid for r in eng.annotate(df).collect()] == [False, True]


# ---------------------------------------------------------------------------
# cross-document $ref (boon add_resource / loader parity,
# reference tests/examples.rs:8-123, src/compiler.rs:182-187)
# ---------------------------------------------------------------------------

def test_ref_into_supplied_resource(spark):
    # add_resource parity: an absolute-URI ref resolves into a
    # pre-supplied document (examples.rs example_from_strings)
    lib = {"$id": "https://example.com/lib.json",
           "$defs": {"pos": {"minimum": 1}}}
    eng = Engine.from_schema(
        {"properties": {"n": {"$ref": "https://example.com/lib.json#/$defs/pos"}}},
        row_id="k", resources={"https://example.com/lib.json": lib})
    df = spark.createDataFrame([("a", 0), ("b", 2)], "k string, n int")
    got = [r.valid for r in eng.annotate(df).collect()]
    assert got == [False, True]


def test_relative_ref_resolved_against_root_id(spark):
    lib = {"$defs": {"small": {"maximum": 10}}}
    eng = Engine.from_schema(
        {"$id": "https://example.com/schemas/main.json",
         "properties": {"n": {"$ref": "lib.json#/$defs/small"}}},
        row_id="k",
        resources={"https://example.com/schemas/lib.json": lib})
    df = spark.createDataFrame([("a", 5), ("b", 50)], "k string, n int")
    assert [r.valid for r in eng.annotate(df).collect()] == [True, False]


def test_refs_inside_foreign_resource_resolve_locally(spark):
    # a ref inside lib.json ("#/$defs/base") must resolve within
    # lib.json, not within the root document
    lib = {"$id": "https://example.com/lib.json",
           "$defs": {"base": {"minimum": 100},
                     "derived": {"$ref": "#/$defs/base"}}}
    root = {"$defs": {"base": {"minimum": -1}},  # decoy in root
            "properties": {"n": {
                "$ref": "https://example.com/lib.json#/$defs/derived"}}}
    eng = Engine.from_schema(root, row_id="k",
                             resources={"https://example.com/lib.json": lib})
    df = spark.createDataFrame([("a", 5)], "k string, n int")
    assert [r.valid for r in eng.annotate(df).collect()] == [False]


def test_anchor_in_foreign_resource(spark):
    lib = {"$id": "https://example.com/lib.json",
           "$defs": {"p": {"$anchor": "positive", "exclusiveMinimum": 0}}}
    eng = Engine.from_schema(
        {"properties": {"n": {
            "$ref": "https://example.com/lib.json#positive"}}},
        row_id="k", resources={"https://example.com/lib.json": lib})
    df = spark.createDataFrame([("a", 0), ("b", 1)], "k string, n int")
    assert [r.valid for r in eng.annotate(df).collect()] == [False, True]


def test_loader_fallback_called_for_unknown_uri(spark):
    # SchemeUrlLoader parity: the loader receives the resolved URI
    seen = []

    def loader(uri):
        seen.append(uri)
        return {"$defs": {"pos": {"minimum": 1}}}

    eng = Engine.from_schema(
        {"properties": {"n": {"$ref": "https://x.test/l.json#/$defs/pos"}}},
        row_id="k", loader=loader)
    df = spark.createDataFrame([("a", 0)], "k string, n int")
    assert [r.valid for r in eng.annotate(df).collect()] == [False]
    assert seen == ["https://x.test/l.json"]


def test_unresolvable_resource_is_compile_error():
    with pytest.raises(CompileError, match="cannot resolve resource"):
        Engine.from_schema(
            {"properties": {"n": {"$ref": "https://nowhere.test/x.json"}}})


def test_cross_resource_cycle_is_plan_time_error(spark):
    # a <-> b re-applies the same instance without descending it, so the
    # recursion can never terminate.  Compile now succeeds (recursion is
    # legal when it descends — test_dynamic_refs.py); the type-directed
    # unroller rejects the non-descending loop at PLAN time instead.
    a = {"$id": "https://example.com/a.json",
         "$ref": "https://example.com/b.json"}
    b = {"$id": "https://example.com/b.json",
         "$ref": "https://example.com/a.json"}
    eng = Engine.from_schema(a, row_id="k", resources={
        "https://example.com/a.json": a,
        "https://example.com/b.json": b})
    df = spark.createDataFrame([("x",)], "k string")
    with pytest.raises(CompileError, match="non-descending"):
        eng.validate(df)


def test_cross_resource_absolute_keyword_location(spark):
    lib = {"$id": "https://example.com/lib.json",
           "$defs": {"pos": {"minimum": 1}}}
    eng = Engine.from_schema(
        {"$id": "https://example.com/main.json",
         "properties": {"n": {
             "$ref": "https://example.com/lib.json#/$defs/pos"}}},
        row_id="k", resources={"https://example.com/lib.json": lib})
    df = spark.createDataFrame([("a", 0)], "k string, n int")
    r = eng.validate(df).violations().collect()[0]
    assert r.keyword_location == "/properties/n/$ref/minimum"
    assert r.absolute_keyword_location == \
        "https://example.com/lib.json#/$defs/pos/minimum"


def test_cli_file_loader_resolves_sibling_schema(tmp_path, spark):
    import json as _json
    from boon_spark.cli import make_ref_loader
    (tmp_path / "lib.json").write_text(
        _json.dumps({"$defs": {"pos": {"minimum": 1}}}))
    main = {"properties": {"n": {"$ref": "lib.json#/$defs/pos"}}}
    (tmp_path / "main.json").write_text(_json.dumps(main))
    eng = Engine.from_schema(
        main, row_id="k",
        loader=make_ref_loader(str(tmp_path / "main.json")))
    df = spark.createDataFrame([("a", 0), ("b", 3)], "k string, n int")
    assert [r.valid for r in eng.annotate(df).collect()] == [False, True]


def test_ref_keyword_location_per_use_site(spark):
    # a $def referenced from TWO properties must report each use site's
    # own keywordLocation (a shared cached node would bake in the first)
    eng = Engine.from_schema({
        "$defs": {"pos": {"minimum": 1}},
        "properties": {"x": {"$ref": "#/$defs/pos"},
                       "y": {"$ref": "#/$defs/pos"}}}, row_id="k")
    df = spark.createDataFrame([("a", 0, 0)], "k string, x int, y int")
    locs = sorted(r.keyword_location
                  for r in eng.validate(df).violations().collect())
    assert locs == ["/properties/x/$ref/minimum",
                    "/properties/y/$ref/minimum"]


def test_fragment_compile_entry(spark):
    # boon Compiler::compile("schema.json#a1") parity
    # (tests/compiler.rs:34-53): anchor and pointer fragments select the
    # same subschema as the validation root
    doc = {"$defs": {"x": {"$anchor": "a1",
                           "properties": {"n": {"maximum": 3}}}},
           "properties": {"n": {"maximum": 100}}}
    df = spark.createDataFrame([(1, 2), (2, 50)], "k long, n long")
    for frag in ("#a1", "#/$defs/x", "/$defs/x"):
        eng = Engine.from_schema(doc, row_id="k", fragment=frag)
        got = [r.valid for r in eng.annotate(df).orderBy("k").collect()]
        assert got == [True, False], frag
        v = eng.validate(df).violations().collect()[0]
        assert v.keyword_location == "/properties/n/maximum"
    # the root (no fragment) keeps the permissive bound
    eng = Engine.from_schema(doc, row_id="k")
    assert [r.valid for r in eng.annotate(df).orderBy("k").collect()] \
        == [True, True]


def test_fragment_pointer_absolute_keyword_location(spark):
    # boon's fragment compile reports the definition pointer in
    # absoluteKeywordLocation (third review pass)
    doc = {"$defs": {"x": {"properties": {"n": {"maximum": 3}}}}}
    eng = Engine.from_schema(doc, row_id="k", fragment="#/$defs/x")
    df = spark.createDataFrame([(1, 50)], "k long, n long")
    v = eng.validate(df).violations().collect()[0]
    assert v.keyword_location == "/properties/n/maximum"
    assert v.absolute_keyword_location == "#/$defs/x/properties/n/maximum"


def test_fragment_root_keyword_absolute_location(spark):
    # keywords attached DIRECTLY to the pointer-fragment root (loc "")
    # must get the definition-pointer prefix too (fourth review pass)
    doc = {"$defs": {"x": {"required": ["a"]}}}
    eng = Engine.from_schema(doc, row_id="k", fragment="#/$defs/x")
    df = spark.createDataFrame([(1, None)], "k long, a string")
    v = eng.validate(df).violations().collect()[0]
    assert v.absolute_keyword_location == "#/$defs/x/required"


def test_fragment_slash_selects_empty_key_member(spark):
    # RFC 6901 (and boon): "/" is the pointer to the EMPTY-STRING-keyed
    # member, not the document root
    doc = {"": {"required": ["a"]}, "required": ["never-checked"]}
    eng = Engine.from_schema(doc, row_id="k", fragment="#/")
    df = spark.createDataFrame([(1, None)], "k long, a string")
    v = eng.validate(df).violations().collect()[0]
    assert v.keyword_location == "/required"
    assert v.absolute_keyword_location == "#//required"
    # empty fragment stays the whole document
    eng2 = Engine.from_schema({"required": ["a"]}, row_id="k", fragment="#")
    v2 = eng2.validate(df).violations().collect()[0]
    assert v2.absolute_keyword_location == "#/required"


def test_scheme_loader_dispatch_and_unsupported(tmp_path, spark):
    # boon SchemeUrlLoader parity (loader.rs:46-72): per-scheme dispatch,
    # unsupported scheme -> CompileError (UnsupportedUrlScheme)
    import json as _json

    import pytest as _pytest

    from boon_spark import Engine, file_loader, scheme_loader
    from boon_spark.errors import CompileError

    lib = {"$id": "file://" + str(tmp_path / "lib.json"),
           "$defs": {"pos": {"minimum": 1}}}
    (tmp_path / "lib.json").write_text(_json.dumps(lib))
    loader = scheme_loader({"file": file_loader})
    eng = Engine.from_schema(
        {"properties": {"n": {
            "$ref": f"file://{tmp_path}/lib.json#/$defs/pos"}}},
        row_id="k", loader=loader)
    df = spark.createDataFrame([("a", 0)], "k string, n int")
    assert eng.validate(df).violations().count() == 1
    with _pytest.raises(CompileError, match="unsupported URL scheme"):
        Engine.from_schema(
            {"properties": {"n": {"$ref": "ftp://x/lib.json#/$defs/pos"}}},
            loader=loader)


def test_file_loader_yaml(tmp_path):
    from boon_spark import file_loader
    (tmp_path / "s.yaml").write_text("minimum: 3\n")
    assert file_loader(str(tmp_path / "s.yaml")) == {"minimum": 3}


def test_file_loader_percent_decoded_and_scheme_parse(tmp_path):
    import json as _json

    import pytest as _pytest

    from boon_spark import file_loader, scheme_loader
    from boon_spark.errors import CompileError
    d = tmp_path / "my docs"
    d.mkdir()
    (d / "lib.json").write_text(_json.dumps({"minimum": 1}))
    uri = "file://" + str(d).replace(" ", "%20") + "/lib.json"
    assert file_loader(uri) == {"minimum": 1}
    # urn: has a scheme but no authority — must raise, not misdispatch
    loader = scheme_loader({"file": file_loader})
    with _pytest.raises(CompileError, match="unsupported URL scheme"):
        loader("urn:example:schemas:x")


def test_file_loader_rfc8089_forms(tmp_path):
    import json as _json

    import pytest as _pytest

    from boon_spark import file_loader
    from boon_spark.errors import CompileError
    (tmp_path / "x.json").write_text(_json.dumps({"minimum": 2}))
    p = str(tmp_path / "x.json")
    assert file_loader(f"file://{p}") == {"minimum": 2}
    assert file_loader(f"file:{p}") == {"minimum": 2}      # single-slash
    assert file_loader(f"file://localhost{p}") == {"minimum": 2}
    assert file_loader(f"File://{p}") == {"minimum": 2}    # scheme case
    with _pytest.raises(CompileError, match="non-local authority"):
        file_loader(f"file://otherhost{p}")
