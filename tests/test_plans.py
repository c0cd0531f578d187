"""Physical-plan regression tests — the scale guarantees the engine
claims, asserted against ``executedPlan`` so they can't silently rot:

* row-local validation: ZERO shuffles, column pruning reaches the scan;
* the validity projection stays inside whole-stage codegen for
  range-only items schemas (no interpreted lambdas in the hot path);
* referential check: broadcast join, never a shuffled fact table;
* cosine top-k: map-side partial aggregation before the exchange.
"""

import pytest
from pyspark.sql import functions as F

from boon_spark import Engine
from boon_spark.operators.referential import check_referential
from boon_spark.operators.similarity import cosine_topk
from boon_spark.sources.tables import sequences_spec, synthetic_sequences


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def seq(spark):
    return synthetic_sequences(spark, 1000, partitions=2)


def test_validation_has_no_shuffle(spark, seq):
    ann = Engine.from_schema(sequences_spec(), row_id="doc_id").annotate(seq)
    assert "Exchange" not in _plan(ann)


def test_validity_projection_is_codegen(spark, seq):
    # the hot path (valid column only) must be one whole-stage-codegen'd
    # projection — HOFs in it would show as a bare (un-starred) Project
    eng = Engine.from_schema(sequences_spec(), row_id="doc_id")
    valid_only = eng.annotate(seq).select("valid")
    plan = _plan(valid_only)
    # codegen'd operators print as `*(n) Project` in executedPlan text
    valid_line = [ln for ln in plan.splitlines()
                  if "Project" in ln and "AS valid" in ln][0]
    assert valid_line.lstrip(" +-:").startswith("*")
    # the valid expression compiles to array_min/array_max, not forall
    assert "forall" not in valid_line
    assert "array_min" in valid_line and "array_max" in valid_line


@pytest.fixture(scope="module")
def seq_parquet(spark, seq, tmp_path_factory):
    # a parquet round-trip makes the token elements nullable
    # (containsNull=true), so the NULL-element probe is planned
    p = str(tmp_path_factory.mktemp("seq") / "seq.parquet")
    seq.write.parquet(p)
    df = spark.read.parquet(p)
    assert df.schema["tokens"].dataType.containsNull
    return df


def _project_line(plan: str, marker: str) -> str:
    return [ln for ln in plan.splitlines()
            if "Project" in ln and marker in ln][0]


def test_null_element_probe_is_linear_and_codegen(spark, seq_parquet):
    # the NULL-element probe over nullable tokens is one arrays_overlap
    # pass against a sentinel the items bounds exclude, not a per-row
    # sort_array, and the valid projection stays whole-stage codegen'd
    eng = Engine.from_schema(sequences_spec(), row_id="doc_id")
    valid_line = _project_line(
        _plan(eng.annotate(seq_parquet).select("valid")), "AS valid")
    assert valid_line.lstrip(" +-:").startswith("*")
    assert "sort_array" not in valid_line
    assert "arrays_overlap" in valid_line


def test_violation_stage_has_no_null_filter(spark, seq_parquet):
    # keyword violation arrays are NULL-free, so no filter lambda strips
    # NULL structs off the concatenated detail
    eng = Engine.from_schema(sequences_spec(), row_id="doc_id")
    viol_line = _project_line(_plan(eng.annotate(seq_parquet)), "AS _viols")
    assert "CASE WHEN NOT valid" in viol_line
    assert "filter(" not in viol_line


def test_table_checks_have_no_lambdas(spark, seq_parquet):
    from boon_spark.operators.equality import check_equality
    from boon_spark.operators.invariants import check_invariants
    inv = check_invariants(seq_parquet, sequences_spec()["invariants"],
                           row_id="doc_id")
    eq = check_equality(seq_parquet, seq_parquet, key="doc_id")
    assert "lambdafunction" not in _plan(inv)
    assert "lambdafunction" not in _plan(eq)


# a valid and an invalid value of each format that runs in the JVM
_JVM_FORMATS = [
    ("date", "2020-02-29", "2021-02-29"),
    ("ipv6", "2001:db8::1", "2001:db8::1::"),
    ("email", "a.b@example.com", "a..b@example.com"),
    ("uri", "https://example.com/a?b#c", "/a/b"),
    ("uri-reference", "../a?b#c", "a b"),
    ("iri", "https://\u4f8b.jp/\u00e9", "https://x/%\u00e91"),
    ("iri-reference", "\u00e9?q", "%zz"),
    ("uri-template", "/users{/id}{?q,lang}", "{a..b}"),
]


@pytest.mark.parametrize("fmt,good,bad", _JVM_FORMATS,
                         ids=[case[0] for case in _JVM_FORMATS])
def test_format_runs_in_the_jvm(spark, fmt, good, bad):
    # every 10th row corrupted; a built-in grammar or calendar format is
    # a Column expression, not an Arrow UDF
    df = spark.range(100).select(
        F.col("id").alias("o_orderkey"),
        F.when(F.col("id") % 10 == 0, F.lit(bad)).otherwise(F.lit(good))
        .alias("s"))
    eng = Engine.from_schema({"properties": {"s": {"format": fmt}}},
                             row_id="o_orderkey", assert_format=True)
    out = eng.validate(df).violations().select("instance_location",
                                               "keyword_location")
    assert "ArrowEvalPython" not in _plan(out)
    assert out.count() == 10


def test_column_pruning_reaches_scan(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [("a", 1, "x", "pad")],
        "doc_id string, n int, other string, pad string").write.parquet(p)
    df = spark.read.parquet(p)
    eng = Engine.from_schema({"properties": {"n": {"minimum": 0}}},
                             row_id="doc_id")
    out = eng.annotate(df).filter("not valid").select("doc_id")
    plan = _plan(out)
    scan_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "other" not in scan_line and "pad" not in scan_line


def test_referential_broadcasts_dimension(spark):
    fact = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("source"))
    dim = spark.range(3).select(F.col("id").alias("source"))
    plan = _plan(check_referential(fact, "source", dim))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_partial_aggregates_before_exchange(spark):
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(100))
                               / 100).cast("float")).alias("embedding"))
    q = emb.filter(F.col("vec_id") < 3)
    plan = _plan(cosine_topk(emb, q, k=3))
    # map-side partial top-k: partial_collect_list must sit BELOW the
    # first hash exchange (plan text reads top-down, so it appears after)
    first_exchange = plan.find("Exchange hashpartitioning")
    assert first_exchange != -1
    assert "partial_collect_list" in plan[first_exchange:]
    # the query side is broadcast — the corpus never shuffles pre-agg
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_band_exchange_carries_no_shingles(spark):
    # round-1 scale bug: the band groupBy shuffled struct(_id, _sh), i.e.
    # every document's shingle set crossed the wire once per band (bands×
    # the corpus text).  The fix shuffles only (_id, band, key) and joins
    # shingles back for the candidate-pair set — pin it.
    from boon_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.createDataFrame([("a", "x y z w"), ("b", "x y z w")],
                                 "doc_id string, text string")
    plan = _plan(minhash_lsh_pairs(docs, num_hashes=8, bands=4))
    agg_lines = [ln for ln in plan.splitlines() if "collect_list" in ln]
    assert agg_lines, "bucket aggregation missing from plan"
    assert all("_sh" not in ln for ln in agg_lines)
    # map-side partial aggregation of the id list still happens
    assert any("partial_collect_list" in ln for ln in agg_lines)


def test_check_unique_is_single_shuffle(spark):
    # bounded-example rework must not add a second exchange: the window
    # and the follow-up groupBy share hashpartitioning(_key)
    import re
    from boon_spark.operators.uniqueness import check_unique
    df = spark.range(100).select(
        F.col("id").alias("rid"), (F.col("id") % 3).alias("k"))
    plan = _plan(check_unique(df, ["k"], row_id="rid"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_content_schema_plan_is_lean(spark):
    # content_json_events cost pin (round-1 bench: 13.5s, 32% of suite).
    # The wall time was NOT parse work — it was one-time janino
    # compilation of generated code bloated by two optimizer rewrites
    # that re-inline the hoisted JSON parse once per alias reference:
    # (a) InferFiltersFromGenerate's size(violations)>0 filter pushed to
    # the scan (avoided by explode_outer in violations()/summary()),
    # (b) hoisting the parsed STRUCT instead of final booleans (each
    # downstream field access re-expanded to its own from_json).
    # Pin: parse count in the optimized plan stays construction-bounded
    # (~9: one hoisted boolean's internal refs) and never appears in a
    # pushed-down Filter.
    from pyspark.sql import functions as F
    from boon_spark import Engine
    ev = spark.createDataFrame([(1, '{"k": 3}'), (2, 'not json')],
                               "event_id int, props string")
    eng = Engine.from_schema({"properties": {"props": {
        "contentMediaType": "application/json",
        "contentSchema": {"properties": {
            "k": {"type": "integer", "minimum": 0, "maximum": 50}},
            "required": ["k"]}}}}, row_id="event_id",
        assert_content=True)
    s = eng.validate(ev).summary()
    plan = s._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") <= 12
    filter_lines = [ln for ln in plan.splitlines() if "Filter" in ln]
    assert all("from_json" not in ln for ln in filter_lines)
