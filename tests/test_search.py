"""Lexical BM25 search: quantized scoring, oracle parity, plan shape."""

import duckdb
import pytest
from pyspark.sql import functions as F

from boon_spark.operators._ckpt import scope
from boon_spark.operators.search import (bm25_df_stats,
                                         bm25_df_stats_oracle_sql,
                                         bm25_topk, bm25_topk_oracle_sql,
                                         doc_len)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat"),
    (3, "cat cat cat cat"),                       # tf saturation target
    (4, "a completely unrelated document about spark"),
    (5, None),                                    # NULL text
    (6, "   "),                                   # whitespace-only
    (7, "the the the the the the the the"),       # common-term spam
    (8, "mat"),
]
QUERIES = [
    (10, "cat mat"),
    (11, "the dog"),
    (12, "absent terms only zzz"),
    (13, None),                                   # NULL query excluded
    (14, " ".join(["w"] * 100)),                  # over max_query_len
]


def _frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    qs = spark.createDataFrame(QUERIES, "query_id long, query_text string")
    return docs, qs


def _oracle_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    con.execute("CREATE TABLE q(query_id BIGINT, query_text VARCHAR)")
    con.executemany("INSERT INTO q VALUES (?, ?)", QUERIES)
    return con


def test_topk_matches_oracle_bit_exact(spark):
    docs, qs = _frames(spark)
    got = (bm25_topk(docs, qs, k=3, max_query_len=8)
           .orderBy("query_id", "rank").collect())
    want = _oracle_con().execute(bm25_topk_oracle_sql(
        queries_sql="SELECT query_id, query_text FROM q", k=3,
        max_query_len=8)).fetchall()
    want = sorted(want)
    assert [(r.query_id, r.rank, r.doc_id, r.score_int) for r in got] == \
        [tuple(w) for w in want]
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    # NULL and over-length queries excluded; no-match query absent
    assert set(by_q) == {10, 11}
    # "cat mat": exactly the docs holding either term, nothing else
    assert {r.doc_id for r in by_q[10]} == {1, 3, 8}


def test_df_stats_matches_oracle(spark):
    docs, qs = _frames(spark)
    got = {(r.term, r.df, r.idf_int)
           for r in bm25_df_stats(docs, qs, max_query_len=8).collect()}
    want = {tuple(w) for w in _oracle_con().execute(
        bm25_df_stats_oracle_sql(
            queries_sql="SELECT query_id, query_text FROM q",
            max_query_len=8)).fetchall()}
    assert got == want
    assert {t for t, _, _ in got} == {"cat", "mat", "the", "dog"}
    # df counts documents, not occurrences: "cat" appears in docs 1 and 3
    assert dict((t, d) for t, d, _ in got)["cat"] == 2


def test_doc_len_null_and_blank(spark):
    df = spark.createDataFrame([(None,), ("",), ("  ",), ("a b",)],
                               "text string")
    assert [r.n for r in
            df.select(doc_len(F.col("text")).alias("n")).collect()] == \
        [0, 0, 0, 2]


def test_tf_saturation_is_capped(spark):
    # quantized tf term is bounded by TF_SCALE*(k1+1): spamming a term
    # cannot grow the score linearly
    docs, _ = _frames(spark)
    qs = spark.createDataFrame([(1, "cat")], "query_id long, query_text string")
    rows = {r.doc_id: r.score_int
            for r in bm25_topk(docs, qs, k=10).collect()}
    assert rows[3] < 3 * rows[1]  # 4x tf, much-less-than-4x score


def test_overflow_guard_raises():
    from boon_spark.operators.search import _check_params
    with pytest.raises(ValueError, match="score overflow"):
        _check_params((6, 5), (3, 4), max_docs=1 << 60,
                      max_query_len=64, max_doc_len=1 << 18)


def test_bad_rational_params():
    from boon_spark.operators.search import _check_params
    with pytest.raises(ValueError, match="k1 must be"):
        _check_params((0, 5), (3, 4), 1 << 20, 8, 1 << 18)
    with pytest.raises(ValueError, match="k1 must be"):
        _check_params((6, 5), (5, 4), 1 << 20, 8, 1 << 18)  # b > 1


def test_max_docs_runtime_contract(spark):
    docs, qs = _frames(spark)
    from pyspark.errors import PySparkException
    with pytest.raises(PySparkException, match="max_docs"):
        bm25_topk(docs, qs, k=3, max_docs=2, max_query_len=8).collect()


def test_plan_broadcast_gate_and_pruned_scan(spark, tmp_path):
    # postings must reach the shuffle only AFTER the broadcast term
    # gate, and the corpus scans must prune to (doc_id, text)
    docs, qs = _frames(spark)
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    plan = (bm25_topk(spark.read.parquet(p), qs, k=3, max_query_len=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads, "no parquet scans in plan"
    for line in reads:
        # every scan pruned to at most (doc_id, text) — the stats scan
        # legitimately prunes further, to text alone
        assert "lang" not in line and "source" not in line \
            and "n_chars" not in line
        assert "text" in line
    assert any("doc_id" in line for line in reads)


def test_intermediates_are_persisted_once(spark):
    # qterms and the matched postings are each consumed twice; without
    # persistence Spark recomputes the whole subtree per consumer
    # (measured: 6 scans, 2 posting shuffles, 4x wall time at sf0.1)
    docs, qs = _frames(spark)
    with scope() as pins:
        out = bm25_topk(docs, qs, k=3, max_query_len=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 3
        # exactly the two intermediates, each persisted
        assert len(pins) == 2 and all(p.is_cached for p in pins)


def test_doc_len_overflow_guard_and_exclusion(spark):
    from boon_spark.operators.search import _check_params
    # quadratic-in-doc-length intermediate trips the plan-time guard
    with pytest.raises(ValueError, match="tf-term overflow"):
        _check_params((6, 5), (3, 4), 1 << 20, 8, max_doc_len=1 << 24)
    # over-length documents are excluded identically in both engines
    docs = spark.createDataFrame(
        [(1, "cat mat"), (2, " ".join(["cat"] * 50))],
        "doc_id long, text string")
    qs = spark.createDataFrame([(9, "cat")],
                               "query_id long, query_text string")
    got = [(r.doc_id, r.rank) for r in
           bm25_topk(docs, qs, k=5, max_query_len=8,
                     max_doc_len=10).collect()]
    assert got == [(1, 1)]
    want = _oracle_con().execute(bm25_topk_oracle_sql(
        queries_sql="SELECT 9 AS query_id, 'cat' AS query_text", k=5,
        max_query_len=8, max_doc_len=10)).fetchall()
    # oracle over the shared 8-doc table: only in-contract docs appear
    assert all(w[2] != 2 for w in want)
