"""cosine_topk must handle non-numeric id columns (string doc_ids)."""

import pytest
from pyspark.sql import functions as F

from boon_spark.operators._ckpt import scope
from boon_spark.operators.similarity import cosine_topk


def test_cosine_topk_string_ids(spark):
    emb = spark.range(20).select(
        F.concat(F.lit("doc-"), F.lpad(F.col("id").cast("string"), 3, "0"))
        .alias("doc_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.pmod(F.xxhash64(F.col("id"), i),
                                      F.lit(100)) / 100).cast("float"))
        .alias("embedding"))
    q = emb.limit(2)
    out = cosine_topk(emb, q, k=3, id_col="doc_id").collect()
    assert len(out) == 6
    assert all(r.neighbor_id is not None and r.neighbor_id.startswith("doc-")
               for r in out)


def _emb(spark, n, dim=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: (F.pmod(F.xxhash64(F.col("id"), i),
                                      F.lit(100)) / 100).cast("float"))
        .alias("embedding"))


def test_cosine_topk_null_embeddings_not_neighbors(spark):
    # ADVICE r2 (high): null cosines sorted FIRST on the negated-cosine key
    # and evicted real neighbors map-side.  A corpus with null vectors must
    # return only real rows at rank 1..k.
    emb = _emb(spark, 20)
    nulls = spark.range(3).select(
        (F.col("id") + 1000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"))
    corpus = emb.unionByName(nulls)
    q = emb.filter(F.col("vec_id") < 2)
    out = cosine_topk(corpus, q, k=4, id_col="vec_id").collect()
    assert len(out) == 8
    assert all(r.neighbor_id < 1000 for r in out), \
        "null-embedding rows must never appear as neighbors"
    # and the ranking matches the unpolluted corpus exactly
    clean = cosine_topk(emb, q, k=4, id_col="vec_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, clean))


def test_cosine_topk_many_queries_chunked(spark):
    # many queries × few partitions: the broadcast is chunked at
    # max_queries_per_pass and results are identical to a single pass
    emb = _emb(spark, 60).coalesce(2)
    q = emb.filter(F.col("vec_id") < 30)
    chunked = cosine_topk(emb, q, k=3, id_col="vec_id",
                          max_queries_per_pass=7).collect()
    single = cosine_topk(emb, q, k=3, id_col="vec_id",
                         max_queries_per_pass=10_000).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, single))
    assert len(chunked) == 30 * 3


def test_cosine_topk_collect_is_sub_bucketed(spark):
    # the partial collect_list group key must include the _sub bucket so
    # the sort-based agg fallback processes bounded groups (≈ partition
    # rows / sub_buckets), never one whole-partition × Q buffer
    emb = _emb(spark, 50)
    q = emb.filter(F.col("vec_id") < 2)
    plan = cosine_topk(emb, q, k=3, id_col="vec_id")._jdf \
        .queryExecution().executedPlan().toString()
    agg_lines = [ln for ln in plan.splitlines()
                 if "partial_collect_list" in ln]
    assert agg_lines, "map-side partial top-k missing from plan"
    assert any("_sub" in ln for ln in agg_lines), \
        "partial collect group key lost the _sub bound"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_cosine_topk_single_corpus_scan_many_queries(spark, tmp_path):
    # VERDICT r3 #2: Q > 256 must NOT re-scan the corpus per 256-query
    # chunk — the _sub sub-bucketing already bounds partial-agg memory,
    # so the default is one pass (one corpus scan) for any Q
    path = str(tmp_path / "corpus.parquet")
    _emb(spark, 50).write.parquet(path)
    corpus = spark.read.parquet(path)
    q = _emb(spark, 300)  # range-backed: no parquet scan on the query side
    plan = _plan(cosine_topk(corpus, q, k=3, id_col="vec_id"))
    assert plan.count("Scan parquet") == 1, \
        f"corpus scanned {plan.count('Scan parquet')} times for Q=300"


def test_cosine_topk_chunked_mode_caches_corpus(spark, tmp_path):
    # opt-in broadcast chunking (max_queries_per_pass) must read the
    # corpus through a persisted projection, not once per chunk
    path = str(tmp_path / "corpus2.parquet")
    _emb(spark, 40).write.parquet(path)
    corpus = spark.read.parquet(path)
    q = _emb(spark, 30)
    with scope():
        out = cosine_topk(corpus, q, k=3, id_col="vec_id",
                          max_queries_per_pass=7)
        assert "InMemoryTableScan" in _plan(out), \
            "chunked mode lost the corpus persist"
        assert len(out.collect()) == 30 * 3


def test_cosine_topk_exact_chunks(spark):
    # ADVICE r3: chunking must bound the MAX chunk, not the average —
    # row_number chunks are exactly <= max_queries_per_pass
    from boon_spark.operators.similarity import _exact_query_chunks
    q = _emb(spark, 23).select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("_qv"))
    chunks = _exact_query_chunks(q, 23, 7)
    assert len(chunks) == 4
    sizes = [c.count() for c in chunks]
    assert all(s <= 7 for s in sizes), sizes
    assert sum(sizes) == 23


def _hot_corpus(spark, n_hot=50, n_cold=20, dim=16):
    # n_hot identical vectors (one SimHash bucket) + n_cold spread ones;
    # coordinates stay within [-1, 1] (the quantized variant's default
    # coord_bound excludes out-of-bound rows by contract)
    hot = spark.range(n_hot).select(
        (F.col("id") + 1000).alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: (i / 20.0).cast("float")).alias("embedding"))
    cold = spark.range(n_cold).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)),
                    lambda i: ((F.pmod(F.xxhash64(F.col("id"), i),
                                       F.lit(1000)) / 500.0) - 1.0)
                    .cast("float")).alias("embedding"))
    return hot.unionByName(cold)


def test_lsh_topk_quantized_recall_and_determinism(spark):
    # the integer-exact approximate path must (a) be deterministic across
    # runs and (b) recover a decent fraction of the exact top-k
    from boon_spark.operators.similarity import (cosine_topk,
                                                 lsh_topk_quantized)
    emb = _emb(spark, 300, dim=16)
    q = emb.filter(F.col("vec_id") < 8)
    a = sorted(map(tuple, lsh_topk_quantized(
        emb, q, k=5, dim=16, bits=4).collect()))
    b = sorted(map(tuple, lsh_topk_quantized(
        emb, q, k=5, dim=16, bits=4).collect()))
    assert a == b, "quantized LSH topk must be deterministic"
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r[0], r[1]) for r in a}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"recall {recall:.2f} too low"


def test_lsh_topk_quantized_overflow_guard():
    # a real exception, not an assert (assert vanishes under python -O)
    from boon_spark.operators.similarity import lsh_topk_quantized
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overflow"):
        lsh_topk_quantized(None, None, k=1, dim=128, q_bits=16)
    with _pytest.raises(ValueError, match="overflow"):
        # unnormalized embeddings: declared coord_bound enters the bound
        lsh_topk_quantized(None, None, k=1, dim=64, q_bits=6,
                           coord_bound=1000.0)


def test_lsh_topk_quantized_excludes_out_of_bound_coords(spark):
    # |coordinate| > coord_bound rows are excluded (the overflow
    # CONTRACT) instead of aborting the job under ANSI int64 overflow
    from boon_spark.operators.similarity import lsh_topk_quantized
    emb = _emb(spark, 30, dim=8)
    big = spark.createDataFrame(
        [(2000, [1e6] * 8)], "vec_id long, embedding array<float>")
    corpus = emb.unionByName(big)
    q = emb.filter(F.col("vec_id") < 2)
    out = lsh_topk_quantized(corpus, q, k=3, dim=8, bits=4).collect()
    assert out and all(r.neighbor_id < 2000 for r in out)


def test_lsh_topk_quantized_caps_hot_bucket(spark):
    from boon_spark.operators.similarity import lsh_topk_quantized
    corpus = _hot_corpus(spark, n_hot=40, n_cold=30)
    q = corpus.filter(F.col("vec_id") == 1000)
    capped = lsh_topk_quantized(corpus, q, k=5, dim=16, bits=5,
                                max_bucket=8).collect()
    assert all(r.neighbor_id < 1000 for r in capped), \
        "over-cap bucket must be dropped"
    uncapped = lsh_topk_quantized(corpus, q, k=5, dim=16, bits=5,
                                  max_bucket=None).collect()
    assert any(r.neighbor_id >= 1000 for r in uncapped)


def test_ivf_topk_recall_and_determinism(spark):
    # IVF (centroid-bucketed) ANN: deterministic seeding/Lloyd, decent
    # recall vs exact at modest n_probe
    from boon_spark.operators.similarity import cosine_topk, ivf_topk
    emb = _emb(spark, 300, dim=16)
    q = emb.filter(F.col("vec_id") < 8)
    a = sorted(map(tuple, ivf_topk(emb, q, k=5, n_centroids=8,
                                   n_probe=3).collect()))
    b = sorted(map(tuple, ivf_topk(emb, q, k=5, n_centroids=8,
                                   n_probe=3).collect()))
    assert a == b, "ivf_topk must be deterministic"
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r[0], r[1]) for r in a}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"recall {recall:.2f} too low"
    # probing ALL cells = exact (the IVF completeness property)
    full = {(r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, q, k=5, n_centroids=8,
                              n_probe=8).collect()}
    assert full == exact, "n_probe == n_centroids must equal exact top-k"


def test_ivf_topk_handles_ragged_and_null_vectors(spark):
    from boon_spark.operators.similarity import ivf_topk
    emb = _emb(spark, 40, dim=8)
    bad = spark.createDataFrame(
        [(1000, None), (1001, [0.1] * 3), (1002, [0.1, None] * 4)],
        "vec_id long, embedding array<float>")
    corpus = emb.unionByName(bad)
    q = emb.filter(F.col("vec_id") < 2)
    out = ivf_topk(corpus, q, k=4, n_centroids=4, n_probe=4).collect()
    assert len(out) == 8
    assert all(r.neighbor_id < 1000 for r in out)


def test_exact_chunks_sweep_overflow_rows(spark):
    # rows past the planned range (source grew between count and
    # execution) land in the LAST chunk rather than being dropped
    from boon_spark.operators.similarity import _exact_query_chunks
    q = _emb(spark, 20).select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("_qv"))
    chunks = _exact_query_chunks(q, 10, 4)  # claimed 10, actually 20
    assert len(chunks) == 3
    total = sum(c.count() for c in chunks)
    assert total == 20, "overflow rows must not be silently dropped"
    assert chunks[-1].count() == 20 - 8  # last chunk sweeps the rest


def test_lsh_topk_quantized_dup_query_rows_fill_distinct_slots(spark):
    # duplicate query_id rows must not let the same (query, neighbor)
    # pair take two of the k slots
    from boon_spark.operators.similarity import lsh_topk_quantized
    emb = _emb(spark, 40, dim=8)
    q1 = emb.filter(F.col("vec_id") == 1)
    dup_q = q1.unionByName(q1).unionByName(q1)  # 3 copies of query 1
    with scope():
        out = lsh_topk_quantized(emb, dup_q, k=4, dim=8, bits=3).collect()
    pairs = [(r.query_id, r.neighbor_id) for r in out]
    assert len(pairs) == 4, "sanity: the bucket holds k neighbors"
    assert len(pairs) == len(set(pairs)), \
        f"duplicate pair occupied multiple slots: {sorted(pairs)}"


def test_ivf_plan_size_guard():
    # VERDICT r4 #3: each Lloyd step inlines n_centroids × dim float
    # literals into the plan; an absurd configuration must die with a
    # clear ValueError at call time, not OOM the driver at plan time.
    # A real exception (assert vanishes under python -O), raised BEFORE
    # any Spark work — corpus=None never gets touched.
    from boon_spark.operators.similarity import ivf_cell_stats, ivf_topk
    import pytest as _pytest
    with _pytest.raises(ValueError, match="plan-size"):
        ivf_topk(None, None, k=5, n_centroids=4096, dim=1024)
    with _pytest.raises(ValueError, match="plan-size"):
        ivf_cell_stats(None, n_centroids=4096, dim=1024)


def test_ivf_cell_stats_audits_max_cell(spark):
    # ADVICE r4: the max_cell drop needs a no-silent-truncation audit.
    # All 30 corpus vectors are identical → one cell holds everything;
    # a cap below that must report the drop.
    from boon_spark.operators.similarity import ivf_cell_stats, ivf_topk
    corpus = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (i / 10.0).cast("float")).alias("embedding"))
    stats = ivf_cell_stats(corpus, n_centroids=4, max_cell=10).collect()[0]
    assert stats.largest_cell == 30
    assert stats.n_dropped_cells == 1
    assert stats.n_dropped_docs == 30
    assert stats.n_cells == stats.n_kept_cells + stats.n_dropped_cells
    # and the capped search really returns nothing from the dropped cell
    q = corpus.filter(F.col("vec_id") == 0)
    out = ivf_topk(corpus, q, k=3, n_centroids=4, n_probe=4,
                   max_cell=10).collect()
    assert out == []
    uncap = ivf_cell_stats(corpus, n_centroids=4, max_cell=None).collect()[0]
    assert uncap.n_dropped_cells == 0 and uncap.n_dropped_docs == 0


def test_lsh_quantized_bucket_stats_audits_the_joins_buckets(spark):
    # ADVICE r4: the audit must count exactly the buckets the quantized
    # join forms (the integer sig_of signatures): the hot bucket the
    # capped join drops shows up in its stats, and bucket totals account
    # for every clean row.
    from boon_spark.operators.similarity import lsh_quantized_bucket_stats
    corpus = _hot_corpus(spark, n_hot=40, n_cold=30)
    stats = lsh_quantized_bucket_stats(corpus, dim=16, bits=5,
                                       max_bucket=8).collect()[0]
    assert stats.largest_bucket >= 40, \
        "the hot bucket the capped join drops must be visible"
    assert stats.n_dropped_docs >= 40
    assert stats.n_buckets == stats.n_kept_buckets + stats.n_dropped_buckets
    uncap = lsh_quantized_bucket_stats(corpus, dim=16, bits=5,
                                       max_bucket=None).collect()[0]
    assert uncap.n_dropped_buckets == 0 and uncap.n_dropped_docs == 0
    assert uncap.n_buckets == stats.n_buckets


def test_ivf_topk_ragged_seed_does_not_poison_dim(spark):
    # every corpus row becomes a seed (n_centroids > corpus size): the
    # ragged ones must lose to the modal dimensionality, not set dim
    from boon_spark.operators.similarity import ivf_topk
    emb = _emb(spark, 20, dim=8)
    bad = spark.createDataFrame(
        [(1000, [0.5] * 3), (1001, [0.5] * 3)],
        "vec_id long, embedding array<float>")
    corpus = emb.unionByName(bad)
    q = emb.filter(F.col("vec_id") < 2)
    out = ivf_topk(corpus, q, k=3, n_centroids=64, n_probe=64).collect()
    assert len(out) == 6, "real corpus silently discarded"
    assert all(r.neighbor_id < 1000 for r in out)


_SIG_FRAME_ROWS = {
    "mixed": [
        (0, [0.1, -0.2, 0.3, 0.5, -0.9, 1.0, -1.0, 0.25]),
        (1, [0.1] * 7),                     # ragged
        (2, [0.1, None, 0.3, 0.5, -0.9, 1.0, -1.0, 0.25]),  # NULL elem
        (3, [0.1, 1.5, 0.3, 0.5, -0.9, 1.0, -1.0, 0.25]),   # out of bound
        (4, [0.0] * 8),                     # zero norm
        (5, [-0.5, 0.5, -0.25, 0.125, 0.75, -0.75, 0.99, -0.99]),
        (6, None),
    ],
    "all_unclean": [                        # both sides return no rows
        (1, [0.1] * 7),
        (2, [0.1, None, 0.3, 0.5, -0.9, 1.0, -1.0, 0.25]),
        (6, None),
    ],
}


@pytest.mark.parametrize("case", sorted(_SIG_FRAME_ROWS))
def test_quantized_sig_frame_matches_expression(spark, case):
    # r7: the clean+quantize+signature+norm pipeline is one numpy Arrow
    # UDF; pin bit-equality against the expression reference on the
    # edges: clean rows, ragged, NULL element, out-of-bound coordinate,
    # zero vector (norm filter), negative coords, and an all-unclean frame
    from pyspark.sql import functions as F
    from boon_spark.operators.dedup import quantized_planes
    from boon_spark.operators.similarity import (_idot,
                                                 _quantized_clean_qv,
                                                 _quantized_sig_frame,
                                                 _quantized_sig_of)
    dim, bits, q_bits, cb, seed = 8, 4, 6, 1.0, 42
    rows = _SIG_FRAME_ROWS[case]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    planes = quantized_planes(dim, bits, seed)
    got = {r.vec_id: (list(r._qv), r._sig, r._nrm) for r in
           _quantized_sig_frame(df, out_id="vec_id", id_col="vec_id",
                                vec_col="embedding", dim=dim,
                                q_bits=q_bits, coord_bound=cb,
                                planes=planes, bits=bits).collect()}
    clean, qv = _quantized_clean_qv("embedding", dim, q_bits, cb)
    want = {r.vec_id: (list(r._qv), r._sig, r._nrm) for r in
            (df.filter(clean)
             .select("vec_id", qv.alias("_qv"))
             .withColumn("_sig",
                         _quantized_sig_of(F.col("_qv"), planes, bits))
             .withColumn("_nrm", _idot(F.col("_qv"), F.col("_qv")))
             .filter(F.col("_nrm") > 0)).collect()}
    assert got == want, f"{got} != {want}"


def _python_udfs(df):
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return set(re.findall(r"ArrowEvalPython \[(\w+)\(", plan))


def test_quantized_kernel_shared_by_near_dups_and_lsh(spark):
    # one quantized-signature kernel: the near-dups gate and the LSH
    # bucket audit must run the SAME Python UDF, so a re-forked copy
    # (with its own clean/overflow policy) shows up here
    from boon_spark.operators.dedup import embedding_near_dups_quantized
    from boon_spark.operators.similarity import lsh_quantized_bucket_stats
    df = spark.createDataFrame([(1, [0.5, 0.5, 0.0, 0.1])],
                               "vec_id int, embedding array<double>")
    with scope():
        nd = _python_udfs(embedding_near_dups_quantized(df, dim=4, bits=2))
    st = _python_udfs(lsh_quantized_bucket_stats(df, dim=4, bits=2))
    assert len(nd) == 1 and nd == st, f"{nd} != {st}"
