"""Violation-row golden tests (FIXTURES.md §3): message strings and
pointers mirror boon's basic-output units and ErrorKind Display."""

import pytest

from boon_spark import Engine


@pytest.fixture(scope="module")
def res(spark):
    df = spark.createDataFrame(
        [("web-000000000002", [1, 2], 9999, "web"),
         ("ok-000000000001", [3], 1, "books")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    eng = Engine.from_schema(
        {"properties": {"n_tok": {"type": "integer", "minimum": 1,
                                  "maximum": 8192}}},
        row_id="doc_id")
    return eng.validate(df)


def test_basic_output_unit_matches_boon_shape(res):
    rows = res.violations().collect()
    assert len(rows) == 1
    r = rows[0]
    # exact FIXTURES.md §3 golden values
    assert r.valid is False
    assert r.instance_location == "/web-000000000002/n_tok"
    assert r.keyword_location == "/properties/n_tok/maximum"
    assert r.error == "must be <=8192, but got 9999"


def test_flag_output(res):
    f = res.flag().collect()[0]
    assert f.valid is False and f.n_rows == 2 and f.n_invalid == 1


def test_detailed_output_nests_errors(res):
    rows = res.detailed().collect()
    assert len(rows) == 1
    d = rows[0]
    assert d.instance_location == "/web-000000000002"
    assert d.violation_count == 1
    assert d.errors[0].keyword_location == "/properties/n_tok/maximum"


def test_unique_items_reports_first_dup_pair(spark):
    eng = Engine.from_schema(
        {"properties": {"xs": {"uniqueItems": True}}}, row_id="k")
    df = spark.createDataFrame([("r1", [7, 1, 7, 1])],
                               "k string, xs array<int>")
    v = eng.validate(df).violations().collect()
    # boon: UniqueItems { got: [i, j] } → "items at 0 and 2 are equal"
    assert v[0].error == "items at 0 and 2 are equal"


def test_summary_counts(spark):
    eng = Engine.from_schema(
        {"properties": {"x": {"minimum": 10}}}, row_id="k")
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 99)],
                               "k string, x int")
    s = eng.validate(df).summary().collect()
    assert s[0].keyword_location == "/properties/x/minimum"
    assert s[0].n_violations == 2


def test_contains_reports_matching_indices(spark):
    # boon: "minimum N items required to match contains schema, but
    # found M items at i, j" (src/validator.rs:412-447)
    eng = Engine.from_schema(
        {"properties": {"xs": {"contains": {"minimum": 10},
                               "minContains": 2}}}, row_id="k")
    df = spark.createDataFrame([("r1", [1, 12, 3])], "k string, xs array<int>")
    v = eng.validate(df).violations().collect()
    assert v[0].error == ("minimum 2 items required to match contains "
                          "schema, but found 1 items at 1")


def test_property_count_message_same_for_struct_and_map(spark):
    # boon: MinProperties { got, want } → "minimum 2 properties required,
    # but got 1 properties" — a struct counts its present fields, a map
    # its entries
    eng = Engine.from_schema(
        {"properties": {"s": {"minProperties": 2},
                        "m": {"minProperties": 2}}}, row_id="k")
    df = spark.createDataFrame([("r1", ("x", None), {"a": 1})],
                               "k string, s struct<a:string,b:string>, "
                               "m map<string,int>")
    v = sorted(eng.validate(df).violations().collect(),
               key=lambda r: r.keyword_location)
    assert [(r.keyword_location, r.error) for r in v] == [
        ("/properties/m/minProperties",
         "minimum 2 properties required, but got 1 properties"),
        ("/properties/s/minProperties",
         "minimum 2 properties required, but got 1 properties")]


def test_absolute_keyword_location_plain(res):
    # no $id, no $ref: dereferenced location == keyword location with a
    # bare-fragment prefix (boon output.rs:416-445)
    r = res.violations().collect()[0]
    assert r.absolute_keyword_location == "#/properties/n_tok/maximum"


def test_absolute_keyword_location_through_ref(spark):
    eng = Engine.from_schema({
        "$id": "https://example.com/doc.schema.json",
        "$defs": {"pos": {"minimum": 1}},
        "properties": {"n": {"$ref": "#/$defs/pos"}},
    }, row_id="k")
    df = spark.createDataFrame([("a", 0)], "k string, n int")
    r = eng.validate(df).violations().collect()[0]
    # keywordLocation walks the use site; absoluteKeywordLocation is the
    # dereferenced definition pointer under the resource URI
    assert r.keyword_location == "/properties/n/$ref/minimum"
    assert r.absolute_keyword_location == \
        "https://example.com/doc.schema.json#/$defs/pos/minimum"


def test_reserved_output_columns_rejected(spark):
    # a table that already carries a `valid` column would silently
    # shadow the verdict — fail loudly instead
    eng = Engine.from_schema({"properties": {"x": {"minimum": 0}}})
    df = spark.createDataFrame([(1, True)], "x int, valid boolean")
    import pytest
    with pytest.raises(ValueError, match="collide"):
        eng.annotate(df)


def test_detailed_tree_single_error_collapses(res):
    # one violation: the root Schema unit branches straight to the leaf —
    # no intermediate Group frame (boon validate() returns a lone error
    # as-is, src/validator.rs:30-58)
    trees = res.detailed_tree()
    assert len(trees) == 1
    t = trees[0]
    assert t == {
        "valid": False,
        "keywordLocation": "",
        "instanceLocation": "/web-000000000002",
        "errors": [{
            "valid": False,
            "keywordLocation": "/properties/n_tok/maximum",
            "instanceLocation": "/web-000000000002/n_tok",
            "error": "must be <=8192, but got 9999",
        }],
    }


@pytest.fixture(scope="module")
def res_two_level(spark):
    # two-level failure: a root-level `required` miss plus TWO errors
    # inside a contentSchema scope — boon groups the latter pair under a
    # "/properties/props/contentSchema" unit (output.rs:89-137)
    df = spark.createDataFrame(
        [("d1", '{"k": 99}', None)],
        "doc_id string, props string, lang string")
    eng = Engine.from_schema(
        {"required": ["lang"],
         "properties": {"props": {
             "contentMediaType": "application/json",
             "contentSchema": {
                 "properties": {"k": {"type": "integer", "maximum": 5}},
                 "required": ["k", "z"]}}}},
        row_id="doc_id", assert_content=True, content_causes=True)
    return eng.validate(df)


def test_detailed_tree_two_level(res_two_level):
    trees = res_two_level.detailed_tree()
    assert len(trees) == 1
    t = trees[0]
    assert t["keywordLocation"] == "" and t["instanceLocation"] == "/d1"
    by_kw = {u["keywordLocation"]: u for u in t["errors"]}
    assert set(by_kw) == {"/required",
                          "/properties/props/contentSchema"}
    content = by_kw["/properties/props/contentSchema"]
    assert "errors" in content and "error" not in content
    sub_kws = sorted(u["keywordLocation"] for u in content["errors"])
    assert sub_kws == [
        "/properties/props/contentSchema/properties/k/maximum",
        "/properties/props/contentSchema/required"]
    assert all("error" in u for u in content["errors"])
    # the group frame's instance location is the decoded scope
    assert content["instanceLocation"].startswith("/d1/props")


def test_render_simple_and_alt(res_two_level):
    from boon_spark.outputs import render_simple
    tree = res_two_level.detailed_tree()[0]
    simple = render_simple(tree, schema_url="file:///tmp/spec.json")
    lines = simple.splitlines()
    assert lines[0] == \
        "jsonschema validation failed with file:///tmp/spec.json#"
    assert any(l.startswith("- at ") for l in lines[1:])
    # the grouped contentSchema causes indent one level deeper
    assert any(l.startswith("  - at ") for l in lines[1:])
    alt = render_simple(tree, alt=True, schema_url="x")
    assert "[S#/required]" in alt


def test_detailed_tree_nests_through_dynamic_ref(spark):
    # ADVICE r3: $recursiveRef/$dynamicRef are ref scopes like $ref —
    # causes below one must nest under the ref's scope frame and carry
    # absoluteKeywordLocation (boon output.rs:102-106 InRef covers all
    # three ref keywords)
    eng = Engine.from_schema({
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$id": "https://example.com/dyn.schema.json",
        "$defs": {"num": {"$dynamicAnchor": "num",
                          "minimum": 1, "multipleOf": 3}},
        "properties": {"n": {"$dynamicRef": "#num"}},
    }, row_id="k")
    df = spark.createDataFrame([("a", -5)], "k string, n int")
    tree = eng.validate(df).detailed_tree()[0]
    # two causes (minimum, multipleOf) group under the $dynamicRef scope
    scope = tree
    while "errors" in scope and scope["keywordLocation"] != \
            "/properties/n/$dynamicRef":
        subs = [u for u in scope["errors"] if "errors" in u]
        assert subs, f"no $dynamicRef scope in {scope}"
        scope = subs[0]
    assert scope["keywordLocation"] == "/properties/n/$dynamicRef"
    leaves = scope["errors"]
    assert {u["keywordLocation"] for u in leaves} == {
        "/properties/n/$dynamicRef/minimum",
        "/properties/n/$dynamicRef/multipleOf"}
    for u in leaves:
        assert u["absoluteKeywordLocation"].startswith(
            "https://example.com/dyn.schema.json#/$defs/num/")
