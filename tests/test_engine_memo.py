"""The engine's plan memo: the Spark expression tree a schema lowers to is
built once per (schema identity, input schema, extension registries,
SparkContext) and re-used by every later ``annotate`` with the same key.

Builds are counted by wrapping ``PlanBuilder.build`` (outer calls only —
it recurses), the way ``perfbench/spans.py`` times it.  Every test runs
against an empty memo of its own."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import boon_spark.engine as engine
from boon_spark import (CompileError, Engine, register_content_encoding,
                        register_content_media_type, register_format,
                        validate_table)
from boon_spark.plans.builder import PlanBuilder
from boon_spark.schema import compile_schema
from boon_spark.sources.manifest import validate_partitioned

# several keyword families, a prelude JSON parse (contentSchema) and
# per-element items detail, so a plan re-use covers every built part
DIRTY_SPEC = {
    "schema": {
        "required": ["doc_id", "n_tok"],
        "properties": {
            "n_tok": {"type": "integer", "minimum": 0, "maximum": 100},
            "source": {"enum": ["web", "books"]},
            "tags": {"type": "array", "maxItems": 3,
                     "items": {"type": "string", "minLength": 2}},
            "payload": {"contentMediaType": "application/json",
                        "contentSchema": {"required": ["a"], "properties": {
                            "a": {"type": "integer"}}}},
        },
    },
    "assert_content": True,
    "unique": ["doc_id"],
    "references": [{"column": "source", "dim": "sources"}],
    "invariants": [{"name": "tok_vs_tags",
                    "expr": "n_tok >= coalesce(size(tags), 0)"}],
}
DIRTY_DDL = "doc_id string, n_tok int, source string, tags array<string>, " \
            "payload string"
DIRTY_ROWS = [
    ("d1", 5, "web", ["ab", "cd"], '{"a": 1}'),
    ("d2", 500, "news", ["x", "yz", "ok", "toolong"], '{"b": 2}'),
    ("d3", -1, "books", None, "not json"),
    ("d3", None, None, ["", None], None),
    (None, 50, "web", [], '{"a": null}'),
]


@pytest.fixture
def builds(monkeypatch):
    """An empty memo for the test, and the number of builds it ran."""
    monkeypatch.setattr(engine, "_plans", {})
    count, depth, real = [0], [0], PlanBuilder.build

    def counted(self, *a, **kw):
        if depth[0] == 0:
            count[0] += 1
        depth[0] += 1
        try:
            return real(self, *a, **kw)
        finally:
            depth[0] -= 1
    monkeypatch.setattr(PlanBuilder, "build", counted)
    return count


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda d: repr(sorted(d.items())))


def _valid(eng, df):
    return [r.valid for r in eng.annotate(df).orderBy("i").collect()]


def test_report_then_table_builds_once(spark, tmp_path, builds):
    df = spark.createDataFrame(
        [(f"d{i}", i * 7, ["web", "books"][i % 2]) for i in range(30)],
        "doc_id string, n_tok int, source string")
    spec = {"schema": {"properties": {"n_tok": {"maximum": 100}}},
            "unique": ["doc_id"]}

    def call(n):
        report = validate_partitioned(
            spark, df, spec, "source", str(tmp_path / f"m{n}"),
            violations_path=str(tmp_path / f"v{n}"), row_id="doc_id")
        vt = validate_table(df, spec, row_id="doc_id")
        return report["metrics"], _rows(vt["row_violations"])

    first = call(0)
    assert builds[0] == 1
    assert call(1) == first
    assert builds[0] == 1
    assert first[0]["web"]["n_invalid"] + first[0]["books"]["n_invalid"] == 15


def test_input_type_rebuilds(spark, builds):
    eng = Engine.from_schema({"properties": {"x": {"type": "integer"}}})
    ints = spark.createDataFrame([(0, 1), (1, 2)], "i int, x int")
    strs = spark.createDataFrame([(0, "1"), (1, "2")], "i int, x string")
    assert _valid(eng, ints) == [True, True]
    assert _valid(eng, strs) == [False, False]
    assert builds[0] == 2
    assert _valid(eng, ints) == [True, True]
    assert builds[0] == 2


def test_input_nullability_rebuilds(spark, builds):
    eng = Engine.from_schema({"required": ["x"]})
    nullable = spark.createDataFrame([(0, 1), (1, None)], "i int, x int")
    strict = spark.createDataFrame(
        [(0, 1), (1, 2)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("x", T.IntegerType(), nullable=False)]))
    assert _valid(eng, nullable) == [True, False]
    assert _valid(eng, strict) == [True, True]
    assert builds[0] == 2


def test_row_id_rebuilds(spark, builds):
    spec = {"properties": {"x": {"maximum": 1}}}
    df = spark.createDataFrame([("a", "b", 5)], "i string, j string, x int")
    locs = [Engine.from_schema(spec, row_id=rid).validate(df).violations()
            .first().instance_location for rid in ("i", "j")]
    assert locs == ["/a/x", "/b/x"]
    assert builds[0] == 2


def test_content_causes_rebuilds(spark, builds):
    spec = {"properties": {"p": {"contentMediaType": "application/json",
                                 "contentSchema": {
                                     "required": ["a"],
                                     "properties": {"a": {"type": "integer"}}}}}}
    df = spark.createDataFrame([(0, '{"b": 1}')], "i int, p string")
    compiled = compile_schema(spec, assert_content=True)
    counts = [Engine(compiled, content_causes=c).validate(df).violations()
              .count() for c in (False, True)]
    assert counts[0] < counts[1]
    assert builds[0] == 2


def test_inline_assert_format_rebuilds(spark, builds):
    schema = {"$schema": "https://json-schema.org/draft/2020-12/schema",
              "properties": {"e": {"format": "ipv4"}}}
    df = spark.createDataFrame([(0, "1.2.3.4"), (1, "nope")], "i int, e string")
    assert _valid(Engine.from_schema({"schema": schema}), df) == [True, True]
    assert _valid(Engine.from_schema({"schema": schema,
                                      "assert_format": True}),
                  df) == [True, False]
    assert builds[0] == 2


def test_reregistered_format_rebuilds(spark, builds):
    register_format("memo-fmt", lambda c: c.startswith("a"), column_expr=True)
    eng = Engine.from_schema({"properties": {"s": {"format": "memo-fmt"}}},
                             assert_format=True)
    df = spark.createDataFrame([(0, "ab"), (1, "ba")], "i int, s string")
    assert _valid(eng, df) == [True, False]
    register_format("memo-fmt", lambda c: c.startswith("b"), column_expr=True)
    assert _valid(eng, df) == [False, True]
    assert builds[0] == 2


def test_reregistered_encoding_rebuilds(spark, builds):
    register_content_encoding("memo-enc", lambda c: c)
    eng = Engine.from_schema(
        {"properties": {"b": {"contentEncoding": "memo-enc"}}},
        assert_content=True)
    df = spark.createDataFrame([(0, "x")], "i int, b string")
    assert _valid(eng, df) == [True]
    register_content_encoding("memo-enc",
                              lambda c: F.lit(None).cast("string"))
    assert _valid(eng, df) == [False]
    assert builds[0] == 2


def test_reregistered_media_type_rebuilds(spark, builds):
    register_content_media_type("memo/type", lambda c: c.startswith("{"))
    eng = Engine.from_schema(
        {"properties": {"b": {"contentMediaType": "memo/type"}}},
        assert_content=True)
    df = spark.createDataFrame([(0, "{x"), (1, "x")], "i int, b string")
    assert _valid(eng, df) == [True, False]
    register_content_media_type("memo/type", lambda c: c.startswith("x"))
    assert _valid(eng, df) == [False, True]
    assert builds[0] == 2


def test_spec_edited_after_compile_gets_its_own_plan(spark, builds):
    # the identity is taken when the spec is compiled: a plan built for
    # the old compile is never served to a compile of the edited spec
    spec = {"properties": {"x": {"maximum": 1}}}
    old = Engine.from_schema(spec)
    spec["properties"]["x"]["maximum"] = 100
    df = spark.createDataFrame([(0, 1), (1, 5)], "i int, x int")
    assert _valid(old, df) == [True, False]
    assert _valid(Engine.from_schema(spec), df) == [True, True]
    assert builds[0] == 2


def test_new_spark_context_rebuilds(spark, builds, monkeypatch):
    # a stopped-and-restarted context has a new application id: Java
    # handles and UDFs built under the old one are never re-used
    eng = Engine.from_schema({"properties": {"x": {"maximum": 1}}})
    df = spark.createDataFrame([(0, 1), (1, 2)], "i int, x int")
    assert _valid(eng, df) == [True, False]
    monkeypatch.setattr(type(spark.sparkContext), "applicationId",
                        property(lambda sc: "a-restarted-context"))
    assert _valid(eng, df) == [True, False]
    assert builds[0] == 2


def test_failed_build_is_not_kept(spark, builds):
    eng = Engine.from_schema(
        {"properties": {"b": {"contentEncoding": "memo-rot13"}}},
        assert_content=True)
    df = spark.createDataFrame([(0, "x")], "i int, b string")
    for _ in range(2):
        with pytest.raises(CompileError, match="register_content_encoding"):
            eng.annotate(df)
    assert builds[0] == 2 and not engine._plans
    register_content_encoding("memo-rot13", lambda c: c)
    assert _valid(eng, df) == [True]
    assert builds[0] == 3


def test_memo_is_capped_oldest_first(spark, builds):
    eng = Engine.from_schema({"properties": {"x": {"maximum": 1}}})
    frames = [spark.range(1).toDF(f"c{n}")
              for n in range(engine._PLAN_CAP + 2)]
    for df in frames:
        eng.annotate(df)
        assert len(engine._plans) <= engine._PLAN_CAP
    assert builds[0] == len(frames)
    eng.annotate(frames[-1])      # the newest is kept
    assert builds[0] == len(frames)
    eng.annotate(frames[0])       # the oldest was evicted
    assert builds[0] == len(frames) + 1


def test_memo_hit_rows_equal_fresh_build(spark, builds):
    df = spark.createDataFrame(DIRTY_ROWS, DIRTY_DDL)
    eng = Engine.from_schema(DIRTY_SPEC, row_id="doc_id")
    fresh = _rows(eng.annotate(df))
    hit = _rows(eng.annotate(spark.createDataFrame(DIRTY_ROWS, DIRTY_DDL)))
    assert builds[0] == 1
    assert hit == fresh
    assert any(r["violation_count"] > 1 for r in hit)
    assert any(r["valid"] for r in hit)
    engine._plans.clear()
    assert _rows(eng.annotate(df)) == fresh
    assert builds[0] == 2


def test_validate_table_accepts_compiled_schema(spark):
    df = spark.createDataFrame(DIRTY_ROWS, DIRTY_DDL)
    dims = {"sources": spark.createDataFrame([("web",), ("books",)],
                                             "source string")}
    frames = ("annotated", "row_violations", "unique_violations",
              "referential_violations", "invariant_violations")
    by_spec, by_compiled = (
        validate_table(df, spec, row_id="doc_id", dims=dims)
        for spec in (DIRTY_SPEC, compile_schema(DIRTY_SPEC)))
    for name in frames:
        got = _rows(by_compiled[name])
        assert got == _rows(by_spec[name]), name
        assert got, name


def test_memo_under_concurrent_annotates(monkeypatch):
    # foreachBatch runs its callback on another thread: many threads
    # looking up, inserting and evicting at once never lose the cap or
    # hand one key's plan to another.  Builds are faked (no Spark), so
    # the threads contend on the memo alone.
    import sys
    import threading
    from types import SimpleNamespace as NS

    class FakeBuilder:
        def __init__(self, df_schema, **kw):
            self.prelude, self.empty = {}, df_schema

        def build(self, *a):
            return self.empty, []

    monkeypatch.setattr(engine, "_plans", {})
    monkeypatch.setattr(engine, "PlanBuilder", FakeBuilder)
    monkeypatch.setattr(engine, "row_pointer", lambda row_id: None)
    eng = Engine.from_schema({"properties": {"x": {"maximum": 1}}})
    sc = NS(applicationId="app")

    def frame(n):
        schema = NS(json=lambda: f"schema-{n}")
        return NS(schema=schema, sparkSession=NS(sparkContext=sc))

    errors, oversized = [], []

    def work(t):
        try:
            for i in range(400):
                df = frame((t * 7 + i) % (engine._PLAN_CAP * 2))
                if eng._plan(df).valid.json() != df.schema.json():
                    errors.append("wrong plan")
                if len(engine._plans) > engine._PLAN_CAP:
                    oversized.append(len(engine._plans))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(repr(e))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,))
                   for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and oversized == []
