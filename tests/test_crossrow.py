"""Cross-row operator tests (SURVEY.md §2.6) against small deterministic
tables with known answers (FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from boon_spark.operators.drift import drift_check
from boon_spark.operators.equality import check_equality
from boon_spark.operators.referential import check_referential
from boon_spark.operators.stats import column_stats
from boon_spark.operators.uniqueness import check_unique


def test_uniqueness_reports_each_dup_key(spark):
    # 100 rows, 3 engineered duplicate pairs (FIXTURES.md §4)
    rows = [(f"id-{i:03d}", i) for i in range(100)]
    for i in (7, 42, 99):
        rows[i] = (rows[i - 1][0], i)  # duplicate previous id
    df = spark.createDataFrame(rows, "doc_id string, x int")
    v = check_unique(df, ["doc_id"], row_id="doc_id").collect()
    assert len(v) == 3
    assert all(r.dup_count == 2 for r in v)
    assert {r.instance_location for r in v} == \
        {"/id-006", "/id-041", "/id-098"}


def test_uniqueness_composite_key(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2)], "k string, n int")
    v = check_unique(df, ["k", "n"]).collect()
    assert len(v) == 1 and v[0].dup_count == 2


def test_referential_anti_join(spark):
    fact = spark.createDataFrame(
        [("d1", "web"), ("d2", "unknown-src"), ("d3", "unknown-src")],
        "doc_id string, source string")
    dim = spark.createDataFrame([("web",), ("books",)], "source string")
    v = check_referential(fact, "source", dim, row_id="doc_id").collect()
    assert len(v) == 2
    assert {r.instance_location for r in v} == {"/d2/source", "/d3/source"}
    # plan check: the dimension side must be broadcast (no shuffle of fact)
    plan = check_referential(fact, "source", dim)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Broadcast" in plan


def test_stats_exact_values(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (None,), (4.0,)], "x double")
    r = column_stats(df, ["x"], exact_distinct=True).collect()[0]
    assert r.n_rows == 4
    assert r.x_min == 1.0 and r.x_max == 4.0
    assert abs(r.x_null_rate - 0.25) < 1e-12
    assert r.x_distinct == 3


def test_stats_hll_within_tolerance(spark):
    df = spark.range(10000).select(F.col("id").alias("x"))
    r = column_stats(df, ["x"], rsd=0.05).collect()[0]
    assert abs(r.x_distinct - 10000) / 10000 < 0.15


def test_drift_same_distribution_low_psi(spark):
    a = spark.range(5000).select((F.pmod(F.xxhash64("id"), F.lit(100)))
                                 .cast("double").alias("v"))
    b = spark.range(5000).select((F.pmod(F.xxhash64(F.col("id") + 999999),
                                         F.lit(100)))
                                 .cast("double").alias("v"))
    r = drift_check(a, b, "v", lo=0, hi=100, buckets=20).collect()[0]
    assert r.valid and r.psi < 0.05 and r.ks_stat < 0.05


def test_drift_shifted_distribution_detected(spark):
    a = spark.range(5000).select((F.pmod(F.xxhash64("id"), F.lit(100)))
                                 .cast("double").alias("v"))
    b = a.select((F.col("v") + 50).alias("v"))  # hard shift
    r = drift_check(a, b, "v", lo=0, hi=100, buckets=20,
                    psi_threshold=0.2).collect()[0]
    assert not r.valid and r.psi > 0.2


def test_drift_salted_matches_unsalted(spark):
    a = spark.range(2000).select((F.pmod(F.xxhash64("id"), F.lit(10)))
                                 .cast("double").alias("v"))
    b = spark.range(2000).select((F.pmod(F.xxhash64(F.col("id") + 7),
                                         F.lit(10))).cast("double").alias("v"))
    plain = drift_check(a, b, "v", lo=0, hi=10, buckets=10).collect()[0]
    salted = drift_check(a, b, "v", lo=0, hi=10, buckets=10,
                         salt_buckets=8).collect()[0]
    assert abs(plain.psi - salted.psi) < 1e-9
    assert abs(plain.ks_stat - salted.ks_stat) < 1e-9


def test_equality_invariant(spark):
    cur = spark.createDataFrame(
        [("d1", [1, 2]), ("d2", [3, 4]), ("d3", [9, 9])],
        "doc_id string, tokens array<int>")
    ref = spark.createDataFrame(
        [("d1", [1, 2]), ("d2", [3, 5]), ("d3", None)],
        "doc_id string, tokens array<int>")
    null_key = spark.createDataFrame([(None, [1, 2])],
                                     "doc_id string, tokens array<int>")
    v = check_equality(cur.union(null_key), ref, key="doc_id").collect()
    locs = {r.instance_location for r in v}
    # a NULL key never joins: it is missing, pointed at "/?" like every
    # other violation row of a NULL id
    assert locs == {"/d2/tokens", "/d3/tokens", "/?"}
    assert [r.keyword_location for r in v if r.instance_location == "/?"] \
        == ["/x-equality/_missing"]
    # an all-passing frame explodes to no rows
    assert check_equality(cur, cur, key="doc_id").count() == 0


def test_validate_table_end_to_end(spark):
    from boon_spark import validate_table
    from boon_spark.sources.tables import (sequences_spec, sources_dim,
                                           synthetic_sequences)
    df = synthetic_sequences(spark, 5000, partitions=4)
    out = validate_table(df, sequences_spec(), row_id="doc_id",
                         dims={"sources": sources_dim(spark)})
    counts = dict(out["annotated"].groupBy("valid").count().collect()
                  and [(r.valid, r["count"]) for r in
                       out["annotated"].groupBy("valid").count().collect()])
    assert counts.get(False, 0) > 0 and counts.get(True, 0) > 4000
    assert out["referential_violations"].count() > 0
    assert out["invariant_violations"].count() > 0
    # determinism: same seed → same verdict counts
    df2 = synthetic_sequences(spark, 5000, partitions=8)
    out2 = validate_table(df2, sequences_spec(), row_id="doc_id",
                          dims={"sources": sources_dim(spark)})
    c1 = out["annotated"].filter("valid").count()
    c2 = out2["annotated"].filter("valid").count()
    assert c1 == c2


def test_check_unique_composite_key_no_separator_collision(spark):
    from boon_spark.operators.uniqueness import check_unique
    # distinct tuples whose joined form collides ("x|y","z") vs ("x","y|z")
    df = spark.createDataFrame(
        [(1, "x|y", "z"), (2, "x", "y|z")], "rid int, a string, b string")
    assert check_unique(df, ["a", "b"], row_id="rid").count() == 0
    # NULL vs the literal sentinel must also stay distinct
    df2 = spark.createDataFrame(
        [(1, None), (2, "␀")], "rid int, a string")
    assert check_unique(df2, ["a"], row_id="rid").count() == 0


def test_check_equality_flags_missing_key_with_null_columns(spark):
    from boon_spark.operators.equality import check_equality
    cur = spark.createDataFrame([(5, None), (6, "x")],
                                "doc_id int, t string")
    ref = spark.createDataFrame([(6, "x")], "doc_id int, t string")
    out = check_equality(cur, ref, key="doc_id").collect()
    assert len(out) == 1
    assert out[0].keyword_location == "/x-equality/_missing"
    assert out[0].instance_location == "/5"


def test_drift_empty_side_fails_loudly(spark):
    from boon_spark.operators.drift import drift_check
    a = spark.createDataFrame([], "v int")
    b = spark.createDataFrame([(1,), (2,)], "v int")
    row = drift_check(a, b, "v", lo=0, hi=10, buckets=4).collect()[0]
    assert row.valid is False  # not NULL


def test_value_quantiles_exact_disc_semantics(spark):
    from boon_spark.operators.stats import value_quantiles
    import pytest as _pt
    # values 1..10 once each: q=0.5 -> smallest v with cum >= 5 -> 5;
    # q=1.0 -> 10; q=0.05 -> first value
    df = spark.createDataFrame([(v,) for v in range(1, 11)] + [(None,)],
                               "x int")
    got = {r.q_ppm: r.value for r in
           value_quantiles(df, "x", qs=(0.05, 0.5, 1.0)).collect()}
    assert got == {50000: 1, 500000: 5, 1000000: 10}
    with _pt.raises(ValueError, match="quantiles must be"):
        value_quantiles(df, "x", qs=(0.0,))
    with _pt.raises(ValueError, match="non-empty"):
        value_quantiles(df, "x", qs=())


def test_value_quantiles_grouped_matches_oracle(spark):
    import duckdb
    from boon_spark.operators.stats import (value_quantiles,
                                            value_quantiles_oracle_sql)
    rows = [("a", v) for v in (1, 1, 2, 9)] + [("b", v) for v in (5, 6)] \
        + [("a", None)]
    df = spark.createDataFrame(rows, "g string, x int")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g VARCHAR, x INT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got = sorted(tuple(r) for r in
                 value_quantiles(df, "x", by="g").collect())
    want = sorted(tuple(w) for w in con.execute(
        value_quantiles_oracle_sql("x", by="g", table="t")).fetchall())
    assert got == want and len(got) == 10


def test_snapshot_diff_counts_and_oracle(spark):
    import duckdb
    from boon_spark.operators.equality import (snapshot_diff,
                                               snapshot_diff_oracle_sql)
    old_rows = [(1, "a", "s"), (2, "b", "s"), (3, None, "s"), (4, "d", "s")]
    new_rows = [(1, "a", "s"),          # unchanged
                (2, "B", "s"),          # changed
                (3, None, "s"),         # unchanged (NULL -> NULL)
                (5, "e", "s")]          # added; 4 removed
    ddl = "doc_id long, text string, source string"
    old = spark.createDataFrame(old_rows, ddl)
    new = spark.createDataFrame(new_rows, ddl)
    r = snapshot_diff(old, new).collect()[0]
    assert (r.n_old, r.n_new, r.n_added, r.n_removed, r.n_changed,
            r.n_unchanged) == (4, 4, 1, 1, 1, 2)
    con = duckdb.connect()
    con.execute("CREATE TABLE o(doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.execute("CREATE TABLE n(doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO o VALUES (?, ?, ?)", old_rows)
    con.executemany("INSERT INTO n VALUES (?, ?, ?)", new_rows)
    want = con.execute(snapshot_diff_oracle_sql(
        columns=["text", "source"], old_sql="SELECT * FROM o",
        new_sql="SELECT * FROM n")).fetchall()[0]
    assert tuple(r) == tuple(want)
    # NULL -> value must count as changed, not unchanged
    new2 = spark.createDataFrame([(3, "now-set", "s")], ddl)
    old2 = spark.createDataFrame([(3, None, "s")], ddl)
    r2 = snapshot_diff(old2, new2).collect()[0]
    assert (r2.n_changed, r2.n_unchanged) == (1, 0)
    import pytest as _pt
    with _pt.raises(ValueError, match="no shared"):
        snapshot_diff(old.select("doc_id"), new.select("doc_id"))


def test_quantile_buckets(spark):
    from boon_spark.operators.stats import (assign_quantile_bucket,
                                            quantile_bucket_stats,
                                            quantile_thresholds)
    import pyspark.sql.functions as F
    df = spark.createDataFrame([(i, i) for i in range(1, 101)],
                               "id bigint, v bigint")
    thr = quantile_thresholds(df, "v", 4)
    assert thr == [25, 50, 75, 100]  # exact quartiles of 1..100
    out = assign_quantile_bucket(df, "v", thr)
    got = {r.id: r.bucket for r in out.collect()}
    assert got[1] == 1 and got[25] == 1 and got[26] == 2
    assert got[75] == 3 and got[100] == 4
    stats = {r.bucket: (r.n, r.lo, r.hi)
             for r in quantile_bucket_stats(df, "v", 4).collect()}
    assert stats == {1: (25, 1, 25), 2: (25, 26, 50),
                     3: (25, 51, 75), 4: (25, 76, 100)}
    # apply is a zero-shuffle codegen'd CASE
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # NULL values bucket NULL
    df2 = spark.createDataFrame([(0, None)], "id bigint, v bigint")
    assert assign_quantile_bucket(df2, "v", thr).first().bucket is None
    import pytest as _pt
    with _pt.raises(ValueError, match=r"n_buckets"):
        quantile_thresholds(df, "v", 1)


def test_robust_outlier_summary(spark):
    from boon_spark.operators.stats import robust_outlier_summary
    # 1..9 plus one far outlier: med = 5, deviations {0..4, 995}
    df = spark.createDataFrame(
        [(i, i) for i in range(1, 10)] + [(99, 1000)],
        "id bigint, v bigint")
    r = robust_outlier_summary(df, "v").first()
    assert r.med == 5 and r.mad == 2
    # flag rule 2|v-5| > 6: |v-5| > 3 -> v in {1, 9?|9-5|=4>3 yes, 1000}
    assert r.n_total == 10 and r.n_flagged == 3


def test_compaction_plan(spark):
    from boon_spark.operators.stats import compaction_plan
    import pytest as _pt
    df = spark.createDataFrame(
        [("a", 900), ("a", 900), ("a", 900),   # 2700 bytes -> 3 files
         ("b", 10),                            # tiny -> still 1 file
         ("c", None)],                         # NULL bytes -> 0
        "p string, sz bigint")
    plan = {r.p: (r.n_rows, r.total_bytes, r.n_files, r.rows_per_file)
            for r in compaction_plan(df, partition_col="p",
                                     bytes_col="sz",
                                     target_bytes=1000).collect()}
    assert plan["a"] == (3, 2700, 3, 1)
    assert plan["b"] == (1, 10, 1, 1)
    assert plan["c"] == (1, 0, 1, 1)
    with _pt.raises(ValueError, match=r"target_bytes"):
        compaction_plan(df, partition_col="p", bytes_col="sz",
                        target_bytes=0)


def test_fertility_stats(spark):
    from boon_spark.operators.text import fertility_stats
    df = spark.createDataFrame(
        [("web", 100, 20), ("web", 50, 10), ("web", 999, 0),
         ("pdf", 30, None)],
        "source string, n_chars bigint, n_tok bigint")
    out = {r.source: r for r in fertility_stats(df).collect()}
    w = out["web"]
    # zero-token doc counted but excluded from sums
    assert (w.n_docs, w.sum_chars, w.sum_toks) == (3, 150, 30)
    assert w.fertility_ppm == 5_000_000  # 5 chars/token
    p = out["pdf"]
    assert (p.n_docs, p.sum_toks, p.fertility_ppm) == (1, 0, None)


def test_table_constraints_null_semantics(spark):
    # boon/JSON semantics, not SQL's: two NULL keys are ONE duplicate
    # group (SQL UNIQUE treats NULLs as distinct) and a NULL foreign key
    # is a violation (MATCH SIMPLE would pass it)
    fact = spark.createDataFrame(
        [("d1", None, "web"), ("d2", None, "web"), ("d3", "x", None)],
        "rid string, doc_id string, source string")
    dim = spark.createDataFrame([("web",), ("books",)], "source string")
    u = check_unique(fact, ["doc_id"], row_id="rid").collect()
    assert [(r.instance_location, r.dup_count) for r in u] == [("/␀", 2)]
    v = check_referential(fact, "source", dim, row_id="rid").collect()
    assert [(r.instance_location, r.value) for r in v] == \
        [("/d3/source", None)]
    assert v[0].error.startswith("value 'null' not present")
    # an invariant violation points at the row, at the JSON Pointer root
    # "" without a row_id (as the engine's own violations do), and a row
    # failing two invariants gives two rows
    from boon_spark.operators.invariants import check_invariants
    invs = [{"name": "has_doc", "expr": "doc_id is not null"},
            {"name": "no_x", "expr": "coalesce(doc_id, '') <> 'x'"},
            {"name": "web", "expr": "source = 'web'"}]
    got = check_invariants(fact, invs, row_id="rid").collect()
    assert sorted((r.instance_location, r.keyword_location)
                  for r in got) == [
        ("/d1", "/x-invariants/has_doc"), ("/d2", "/x-invariants/has_doc"),
        ("/d3", "/x-invariants/no_x"), ("/d3", "/x-invariants/web")]
    got = check_invariants(fact.filter("rid = 'd3'"), invs).collect()
    assert [(r.instance_location, r.keyword_location) for r in got] == [
        ("", "/x-invariants/no_x"), ("", "/x-invariants/web")]
    assert check_invariants(fact.filter("rid = 'd3'"), invs[:1]).count() == 0
