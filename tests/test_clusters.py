"""Connected-components cluster resolution: alternating-star algorithm
vs a reference union-find, plus canonical-keep tie rules."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from boon_spark.operators.clusters import (attach_clusters,
                                           cluster_size_stats,
                                           connected_components,
                                           keep_canonical)


def _union_find(n_nodes, edges):
    """Reference: plain union-find; returns {node: min id of component}
    over nodes appearing in >= 1 edge."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for node in list(parent):
        comp.setdefault(find(node), []).append(node)
    out = {}
    for members in comp.values():
        if len(members) < 2:
            continue
        m = min(members)
        for node in members:
            out[node] = m
    return out


def _cc_dict(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r.node: r.component
            for r in connected_components(df, **kw).collect()}


def test_two_components_and_duplicates(spark):
    edges = [(1, 2), (2, 1), (2, 3), (10, 11), (5, 5)]
    got = _cc_dict(spark, edges)
    # self-loop 5 contributes nothing
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_path_graph_converges_logarithmically(spark):
    # a 64-node chain is the adversarial case for plain min-label
    # propagation (needs 63 rounds); the alternating algorithm must
    # close it well inside a small round budget
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_dict(spark, edges, max_iters=12)
    assert got == {i: 0 for i in range(64)}


def test_clique_and_star(spark):
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    star = [(100, 100 + i) for i in range(1, 6)]
    got = _cc_dict(spark, clique + star)
    assert {k: v for k, v in got.items() if k < 100} == {i: 0 for i in range(5)}
    assert {k: v for k, v in got.items() if k >= 100} == {
        100 + i: 100 for i in range(6)}


def test_string_ids_lexicographic_min(spark):
    df = spark.createDataFrame([("b", "c"), ("c", "aa")],
                               "id_a string, id_b string")
    got = {r.node: r.component for r in connected_components(df).collect()}
    # lexicographic: 'aa' < 'b' < 'c'
    assert got == {"aa": "aa", "b": "aa", "c": "aa"}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(df)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_non_convergence_raises(spark):
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=1).collect()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)),
                min_size=0, max_size=40))
def test_differential_vs_union_find(spark, edges):
    want = _union_find(25, edges)
    # drop self-loop-only nodes like the operator does
    real = [e for e in edges if e[0] != e[1]]
    got = _cc_dict(spark, real) if real else {}
    assert got == want


def test_attach_clusters_singletons(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (9, "d")],
                                 "doc_id long, text string")
    labels = connected_components(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"))
    out = {r.doc_id: r.cluster_id
           for r in attach_clusters(docs, labels).collect()}
    assert out == {1: 1, 2: 1, 3: 3, 9: 9}


def test_keep_canonical_quality_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30),      # cluster 1: max q tie -> min id 2
         (10, None), (11, None),         # cluster 10: all-NULL q -> min id
         (20, 5), (21, 50),              # cluster 20: plain max q
         (99, 999)],                     # singleton: excluded
        "doc_id long, n_chars long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11), (20, 21)],
                                  "id_a long, id_b long")
    labels = connected_components(pairs)
    got = {r.cluster_id: (r.keep_id, r.n_members)
           for r in keep_canonical(docs, labels,
                                   quality_col="n_chars").collect()}
    assert got == {1: (2, 3), 10: (10, 2), 20: (21, 2)}


def test_keep_canonical_no_quality_is_min_id(spark):
    docs = spark.createDataFrame([(5,), (6,), (7,)], "doc_id long")
    labels = connected_components(
        spark.createDataFrame([(6, 7)], "id_a long, id_b long"))
    rows = keep_canonical(docs, labels).collect()
    assert [(r.cluster_id, r.keep_id, r.n_members) for r in rows] == [(6, 6, 2)]


def test_cluster_size_stats(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long")
    labels = connected_components(pairs)
    got = {r.cluster_size: r.n_clusters
           for r in cluster_size_stats(labels).collect()}
    assert got == {2: 1, 3: 1, 4: 1}


def test_labels_parallelism_independent(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(4, 5), (17, 18)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    one = {(r.node, r.component)
           for r in connected_components(df.coalesce(1)).collect()}
    many = {(r.node, r.component)
            for r in connected_components(df.repartition(7)).collect()}
    assert one == many


def test_convergence_telemetry_attached(spark):
    from boon_spark.operators.clusters import connected_components
    # a path graph forces several alternating rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(16)],
                                  "id_a int, id_b int")
    out = connected_components(edges)
    assert out.count() == 17
    st = out._cc_stats
    assert st["edges_start"] == 16
    assert st["edges_end"] == 16  # star forest: one edge per non-root
    assert 1 <= st["rounds"] <= 10
    # vacuous case: zero edges, zero rounds
    empty = spark.createDataFrame([], "id_a int, id_b int")
    st0 = connected_components(empty)._cc_stats
    assert st0 == {"rounds": 0, "edges_start": 0, "edges_end": 0}


def test_superseded_rounds_release_storage(spark):
    # DataFrame.unpersist() is a CacheManager no-op for localCheckpoint
    # frames (ADVICE r5): the loop must release at the RDD level, so
    # executor storage holds O(1) edge-frame copies, not O(rounds); the
    # scope then releases the final fixed-point frame too
    from boon_spark.operators._ckpt import scope
    from boon_spark.operators.clusters import connected_components
    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    edges = spark.createDataFrame([(i, i + 1) for i in range(32)],
                                  "id_a int, id_b int")
    with scope():
        out = connected_components(edges)
        out.count()
        # superseded rounds are gone mid-scope: one stored frame at most
        assert len(stored() - before) <= 1, (before, stored())
    assert stored() - before == set(), (before, stored())
