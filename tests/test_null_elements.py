"""NULL array elements under range-only ``items`` schemas.

The ``valid`` projection compiles such schemas to array_min/array_max
(which skip NULLs) plus a NULL-element probe: ``arrays_overlap`` against
an integer the element bounds exclude, the ``sort_array`` head when no
bound yields one that fits the element type, and nothing at all when the
column type says ``containsNull=false``.  Every case is checked against
boon's semantics (JSON null fails ``type: integer``, an empty array
passes) for both the flag and the violation rows; the flag is also
cross-checked with the ``jsonschema`` package.
"""

import pytest
from jsonschema import Draft202012Validator
from pyspark.sql import types as T

from boon_spark import Engine
from boon_spark.sources.tables import sequences_spec

NULL_TYPE = "want integer, but got null"


def _annotate(spark, items: dict, schema, rows):
    spec = {"properties": {"a": {"items": items}}}
    df = spark.createDataFrame(rows, schema)
    ann = Engine.from_schema(spec, row_id="id").annotate(df)
    got = {r.id: (r.valid, [(v.instance_location, v.keyword_location,
                             v.error) for v in r.violations])
           for r in ann.collect()}
    valid_plan = ann.select("valid")._jdf.queryExecution() \
        .executedPlan().toString()
    ref = Draft202012Validator(spec)
    for rid, arr in rows:
        assert got[rid][0] == ref.is_valid({"a": arr}), rid
    return got, valid_plan


def _int_array(element, contains_null=True):
    return T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("a", T.ArrayType(element, contains_null))])


def _viol(rid, idx, kw, err):
    return (f"/{rid}/a/{idx}", f"/properties/a/items/{kw}", err)


def test_bounded_items_probe_with_sentinel(spark):
    # exclusiveMaximum 10 → sentinel 10; row 2 holds the sentinel AND a
    # NULL, so the probe sees no NULL, but the range check fails the row
    items = {"type": "integer", "minimum": 0, "exclusiveMaximum": 10}
    rows = [(1, [1, None, 3]), (2, [10, None]), (3, [None, None]),
            (4, []), (5, [0, 9]), (6, [10]), (7, None)]
    got, plan = _annotate(spark, items, _int_array(T.IntegerType()), rows)
    assert "arrays_overlap" in plan and "sort_array" not in plan
    over = "must be < 10 but got 10"
    assert got == {
        1: (False, [_viol(1, 1, "type", NULL_TYPE)]),
        2: (False, [_viol(2, 0, "exclusiveMaximum", over),
                    _viol(2, 1, "type", NULL_TYPE)]),
        3: (False, [_viol(3, 0, "type", NULL_TYPE),
                    _viol(3, 1, "type", NULL_TYPE)]),
        4: (True, []),
        5: (True, []),
        6: (False, [_viol(6, 0, "exclusiveMaximum", over)]),
        7: (True, []),
    }


def test_type_only_items_keep_sort_probe(spark):
    rows = [(1, [1, None]), (2, [1, 2]), (3, []), (4, [None])]
    got, plan = _annotate(spark, {"type": "integer"},
                          _int_array(T.IntegerType()), rows)
    assert "sort_array" in plan and "arrays_overlap" not in plan
    assert got == {1: (False, [_viol(1, 1, "type", NULL_TYPE)]),
                   2: (True, []), 3: (True, []),
                   4: (False, [_viol(4, 0, "type", NULL_TYPE)])}


def test_sentinel_that_overflows_element_type(spark):
    # maximum 127 → sentinel 128, which no tinyint holds: keep sort_array
    rows = [(1, [127, None]), (2, [127, -128]), (3, [None])]
    got, plan = _annotate(spark, {"type": "integer", "maximum": 127},
                          _int_array(T.ByteType()), rows)
    assert "sort_array" in plan and "arrays_overlap" not in plan
    assert got == {1: (False, [_viol(1, 1, "type", NULL_TYPE)]),
                   2: (True, []),
                   3: (False, [_viol(3, 0, "type", NULL_TYPE)])}


def test_sentinel_falls_back_to_a_bound_that_fits(spark):
    # maximum 127 overflows tinyint; minimum 0 yields the sentinel -1
    items = {"type": "integer", "minimum": 0, "maximum": 127}
    rows = [(1, [127, None]), (2, [0, 127]), (3, [-1, None])]
    got, plan = _annotate(spark, items, _int_array(T.ByteType()), rows)
    assert "arrays_overlap" in plan and "sort_array" not in plan
    assert got == {
        1: (False, [_viol(1, 1, "type", NULL_TYPE)]),
        2: (True, []),
        3: (False, [_viol(3, 0, "minimum", "must be >=0, but got -1"),
                    _viol(3, 1, "type", NULL_TYPE)]),
    }


def test_non_nullable_elements_get_no_probe(spark):
    rows = [(1, [1, 2]), (2, [1, 99]), (3, [])]
    got, plan = _annotate(spark, {"type": "integer", "maximum": 10},
                          _int_array(T.IntegerType(), contains_null=False),
                          rows)
    assert "sort_array" not in plan and "arrays_overlap" not in plan
    assert got == {1: (True, []),
                   2: (False, [_viol(2, 1, "maximum",
                                     "must be <=10, but got 99")]),
                   3: (True, [])}


@pytest.mark.parametrize("items,et,want", [
    ({"exclusiveMaximum": 10}, T.IntegerType(), 10),
    ({"exclusiveMaximum": 10.5}, T.IntegerType(), 11),
    ({"maximum": 2.5}, T.IntegerType(), 3),
    ({"minimum": 0}, T.LongType(), -1),
    ({"minimum": 0.5}, T.IntegerType(), 0),
    ({"exclusiveMinimum": 3.5}, T.ShortType(), 3),
    ({"maximum": 32767}, T.ShortType(), None),
    ({"maximum": 1e300}, T.LongType(), None),
    ({"maximum": 2.0 ** 60}, T.LongType(), None),
    ({"maximum": 2 ** 60}, T.LongType(), 2 ** 60 + 1),
    ({"maximum": 10 ** 400}, T.LongType(), None),
    ({"type": "integer"}, T.IntegerType(), None),
])
def test_sentinel_is_excluded_and_fits(items, et, want):
    from boon_spark.plans.builder import _excluded_int
    from boon_spark.schema import compile_schema
    node = compile_schema({"items": items}).root.items
    assert _excluded_int(node, et) == want


def test_items_detail_order_is_unchanged(spark):
    # a NULL, a value below minimum and values at/above exclusiveMaximum
    # at known indices: the per-element guard must keep every row and
    # its order (rows recorded before the guard existed)
    df = spark.createDataFrame(
        [("web-000000000001", [3, None, -2, 50257, 7, 99999, None], 7,
          "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    r = Engine.from_schema(sequences_spec(), row_id="doc_id") \
        .annotate(df).collect()[0]
    items = "/properties/tokens/items"
    row = "/web-000000000001/tokens"
    want = [
        (f"{row}/1", f"{items}/type", f"#{items}/type", NULL_TYPE),
        (f"{row}/2", f"{items}/minimum", f"#{items}/minimum",
         "must be >=0, but got -2"),
        (f"{row}/3", f"{items}/exclusiveMaximum",
         f"#{items}/exclusiveMaximum", "must be < 50257 but got 50257"),
        (f"{row}/5", f"{items}/exclusiveMaximum",
         f"#{items}/exclusiveMaximum", "must be < 50257 but got 99999"),
        (f"{row}/6", f"{items}/type", f"#{items}/type", NULL_TYPE),
    ]
    assert (r.valid, r.violation_count) == (False, 5)
    assert [tuple(v) for v in r.violations] == want
