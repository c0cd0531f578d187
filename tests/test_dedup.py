"""Dedup operator tests with engineered near-duplicates."""

import pytest
from pyspark.sql import functions as F

from boon_spark.operators._ckpt import scope
from boon_spark.operators.dedup import (embedding_near_dups_quantized,
                                        exact_duplicates, minhash_lsh_pairs,
                                        minhash_signature, ngram_jaccard_pairs,
                                        simhash_near_dups, word_shingles)

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun")
NEAR = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the evening sun")
OTHER = ("completely different text about spark distributed computing "
         "shuffle partitions and catalyst optimizer internals at scale")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", BASE), ("d2", NEAR), ("d3", OTHER),
        ("d4", "  The  QUICK brown fox jumps over the lazy dog while the "
               "cat watches from the warm windowsill in the afternoon sun "),
        ("d5", "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_duplicates_normalized(spark, docs):
    groups = exact_duplicates(docs).collect()
    # d4 is d1 modulo case/whitespace
    assert len(groups) == 1
    g = groups[0]
    assert g.n_docs == 2 and sorted(g.doc_ids) == ["d1", "d4"]


def test_word_shingles_deterministic(spark, docs):
    sh = docs.filter("doc_id = 'd5'").select(
        word_shingles(F.col("text"), 2).alias("s")).collect()[0].s
    assert sh == ["unrelated short", "short text"]


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                              jaccard_threshold=0.4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert ("d1", "d2") in found        # one-word edit
    assert ("d1", "d4") in found        # exact after normalization
    assert all("d3" not in p and "d5" not in p for p in found)


def test_minhash_signature_stable(spark, docs):
    s1 = docs.select(minhash_signature(
        word_shingles(F.col("text")), 8).alias("sig")).collect()
    s2 = docs.select(minhash_signature(
        word_shingles(F.col("text")), 8).alias("sig")).collect()
    assert [r.sig for r in s1] == [r.sig for r in s2]


def test_ngram_jaccard_within_block(spark, docs):
    blocked = docs.withColumn("blk", F.lit("one"))
    pairs = ngram_jaccard_pairs(blocked, group_col="blk",
                                threshold=0.5).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert found[("d1", "d4")] == 1.0
    assert 0.5 <= found[("d1", "d2")] < 1.0


def test_simhash_near_dups(spark, docs):
    pairs = simhash_near_dups(docs, max_hamming=8).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found[("d1", "d4")] == 0
    assert ("d1", "d2") in found
    assert ("d1", "d3") not in found and ("d2", "d3") not in found


# ---------------------------------------------------------------------------
# degenerate-input scale guards (bounded buffers, capped quadratics)
# ---------------------------------------------------------------------------

def test_exact_duplicates_bounds_example_list(spark):
    # a pathological hot key (identical content) must not accumulate all
    # ids — only max_examples reach the collect_list buffer, while n_docs
    # still reports the TRUE count
    rows = [(f"d{i:03d}", "same text here") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    g = exact_duplicates(df, max_examples=7).collect()
    assert len(g) == 1
    assert g[0].n_docs == 200
    assert len(g[0].doc_ids) == 7
    assert g[0].keep_id == "d000"
    assert g[0].doc_ids == [f"d{i:03d}" for i in range(7)]


def test_check_unique_bounds_example_list(spark):
    from boon_spark.operators.uniqueness import check_unique
    rows = [(i, "hot") for i in range(500)] + [(999, "cold")]
    df = spark.createDataFrame(rows, "rid int, k string")
    out = check_unique(df, ["k"], row_id="rid", max_examples=3).collect()
    assert len(out) == 1
    assert out[0].dup_count == 500
    # error message names only the first 3 examples
    assert "(e.g. rows 0, 1, 10)" in out[0].error


def test_ngram_jaccard_max_block_drops_and_counts(spark):
    from boon_spark.operators.dedup import block_size_stats
    rows = [(f"h{i}", "the same text repeated again and again", "hot")
            for i in range(50)]
    rows += [("c1", "cold block text one two three", "cold"),
             ("c2", "cold block text one two three", "cold")]
    df = spark.createDataFrame(rows, "doc_id string, text string, blk string")
    pairs = ngram_jaccard_pairs(df, group_col="blk", threshold=0.5,
                                max_block=10).collect()
    # hot block (50 docs) dropped; cold block pair survives
    assert {(r.id_a, r.id_b) for r in pairs} == {("c1", "c2")}
    stats = block_size_stats(df, group_col="blk", max_block=10).collect()[0]
    assert stats.n_blocks == 2
    assert stats.n_dropped_blocks == 1
    assert stats.n_dropped_docs == 50
    assert stats.largest_block == 50


def test_embedding_near_dups_max_bucket_caps_degenerate(spark):
    # 40 identical vectors all land in ONE signature bucket; cap at 8
    # members drops the bucket entirely (no quadratic), while a small
    # bucket below the cap still yields its pair
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    with scope():
        capped = {(r.id_a, r.id_b) for r in embedding_near_dups_quantized(
            df, dim=4, threshold_num=9, threshold_den=10, bits=8,
            max_bucket=8).collect()}
        uncapped = embedding_near_dups_quantized(
            df, dim=4, threshold_num=9, threshold_den=10, bits=8,
            max_bucket=64).count()
    assert capped == {(100, 101)}  # degenerate bucket dropped
    assert uncapped == 40 * 39 // 2 + 1  # sanity: the cap did the drop


@pytest.mark.parametrize("num,den", [(11, 10), (0, 0), (-9, 10), (1, 0),
                                     (-1, -1)])
def test_embedding_near_dups_quantized_rejects_bad_threshold(num, den):
    # past 1 the squared-cosine verify is always false (Cauchy-Schwarz),
    # 0/0 passes every positive dot and a negative numerator squares
    # away: each would silently return a wrong pair set, so the call
    # raises before any Spark work (df=None is never touched)
    with pytest.raises(ValueError, match="threshold"):
        embedding_near_dups_quantized(None, dim=2, threshold_num=num,
                                      threshold_den=den)


def test_minhash_bucket_stats(spark, docs):
    from boon_spark.operators.dedup import minhash_lsh_bucket_stats
    s = minhash_lsh_bucket_stats(docs, num_hashes=16, bands=8,
                                 max_bucket=64).collect()[0]
    assert s.n_buckets > 0
    assert s.n_dropped_buckets == 0
    assert s.largest_bucket <= 64


def test_embedding_near_dups_quantized_integer_exact(spark):
    # the quantized variant must agree bit-for-bit with its generated
    # DuckDB oracle (integer signs + squared-cosine verify, no floats)
    import duckdb
    from boon_spark.operators.dedup import (embedding_near_dups_oracle_sql,
                                            embedding_near_dups_quantized)
    rows = [(1, [0.5, 0.5, 0.0, 0.1]), (2, [0.5, 0.45, 0.05, 0.1]),
            (3, [-0.5, 0.5, 0.3, -0.2]), (4, [0.1, -0.4, 0.5, -0.5]),
            (5, [0.5, 0.44, 0.06, 0.1]),
            (6, [0.5, 0.45]),                   # ragged: excluded both sides
            (7, [0.5, None, 0.05, 0.1])]        # null-poisoned: excluded
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {(r.id_a, r.id_b) for r in embedding_near_dups_quantized(
        df, dim=4, threshold_num=9, threshold_den=10, bits=2).collect()}
    assert (2, 5) in got  # near-parallel vectors sharing a bucket
    con = duckdb.connect()
    con.register("embeddings", df.toPandas())
    sql = embedding_near_dups_oracle_sql(dim=4, threshold_num=9,
                                         threshold_den=10, bits=2)
    want = {(a, b) for a, b in con.execute(sql).fetchall()}
    assert got == want


@pytest.mark.parametrize("bits", [2, 3, 4])
def test_embedding_near_dups_quantized_raises_on_int64_overflow(spark, bits):
    # |x·2^10| ≈ 3e9 is far below 2^63, but row 3's squared norm
    # (~3.8e19) is not: the kernel must raise, not wrap and drop pairs
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from boon_spark.operators.dedup import embedding_near_dups_quantized
    df = spark.createDataFrame(
        [(1, [0.5, 0.5, 0.0, 0.1]), (2, [0.5, 0.45, 0.05, 0.1]),
         (3, [3e6, -3e6, 3e6, -3e6])],
        "vec_id int, embedding array<double>")
    with pytest.raises((PythonException, Py4JJavaError),
                       match="int64 overflow"):
        embedding_near_dups_quantized(df, dim=4, threshold_num=9,
                                      threshold_den=10, bits=bits).collect()


def test_simhash_max_bucket_caps_degenerate(spark):
    # 30 exact duplicates (of an unrelated text) share every chunk; cap 8
    # drops those hot buckets (exact dups are exact_duplicates' job)
    # while a genuine near-dup pair in small buckets still surfaces
    rows = [(f"d{i}", OTHER) for i in range(30)]
    rows += [("x1", BASE), ("x2", NEAR)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = simhash_near_dups(df, max_hamming=8, max_bucket=8).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert ("x1", "x2") in pairs
    assert all(not (a.startswith("d") and b.startswith("d"))
               for a, b in pairs)


def test_exact_duplicates_ignores_null_text(spark):
    rows = [(f"n{i}", None) for i in range(5)] + [("a", "same"), ("b", "same")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    g = exact_duplicates(df).collect()
    assert len(g) == 1 and sorted(g[0].doc_ids) == ["a", "b"]


def test_simhash_max_hamming_zero(spark):
    # width=64 single-chunk path must not overflow a long literal
    df = spark.createDataFrame([("a", BASE), ("b", BASE), ("c", OTHER)],
                               "doc_id string, text string")
    out = simhash_near_dups(df, max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in out} == {("a", "b")}


def test_cross_table_contamination_containment_vs_jaccard(spark):
    # a training doc that EMBEDS a whole benchmark item: containment
    # (|A∩B|/|B|) flags it at 1.0 while Jaccard dilutes toward 0 —
    # exactly why decontamination defaults to containment
    from boon_spark.operators.dedup import cross_table_contamination
    eval_item = "the quick brown fox jumps over the lazy dog again"
    filler = " ".join(f"tok{i} pad{i} fill{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [("train1", filler + " " + eval_item + " " + filler),
         ("train2", "совершенно unrelated content here " * 5)],
        "doc_id string, text string")
    bench = spark.createDataFrame(
        [("bench1", eval_item)], "doc_id string, text string")
    hits = cross_table_contamination(
        corpus, bench, threshold=0.9, metric="containment").collect()
    assert [(r.corpus_id, r.benchmark_id) for r in hits] == \
        [("train1", "bench1")]
    assert hits[0].overlap >= 0.9
    jac = cross_table_contamination(
        corpus, bench, threshold=0.9, metric="jaccard").collect()
    assert jac == [], "jaccard must dilute an embedded eval item"


def test_cross_table_contamination_caps_hot_corpus_bucket(spark):
    # boilerplate text shared by many corpus docs = hot shingles; the
    # document-frequency cap drops them from the collision index
    from boon_spark.operators.dedup import cross_table_contamination
    boiler = "copyright notice all rights reserved standard header " * 3
    corpus = spark.createDataFrame(
        [(f"c{i}", boiler) for i in range(30)],
        "doc_id string, text string")
    bench = spark.createDataFrame(
        [("b1", boiler)], "doc_id string, text string")
    capped = cross_table_contamination(
        corpus, bench, threshold=0.5, max_df=10).collect()
    assert capped == [], "hot boilerplate shingles must be dropped"
    uncapped = cross_table_contamination(
        corpus, bench, threshold=0.5, max_df=1000).collect()
    assert len(uncapped) == 30


def test_word_shingles_matches_expression(spark):
    # the production shingler is an Arrow-batched pandas UDF (the
    # expression form is an interpreted HOF, measured 9x slower — r5);
    # its output must be BIT-IDENTICAL to the expression reference,
    # including the edges: null, empty, whitespace-only, unicode
    # whitespace (normalization stays JVM-side), exactly-n words,
    # shorter-than-n docs, and duplicate shingles (first-occurrence
    # order under distinct)
    from boon_spark.operators.dedup import word_shingles, word_shingles_expr
    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "\t\n  mixed\twhitespace\n here  "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three"),
        (7, "one two three four"),
        (8, "UPPER Case Text Must Lower"),
        (9, "a b a b a b a b"),  # duplicate shingles
        (10, "x " * 50 + "y"),
        (11, "unicode nbsp stays one token jvm semantics"),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    for n in (1, 2, 3, 5):
        got = {r.i: r.s for r in df.select(
            "i", word_shingles(F.col("text"), n).alias("s")).collect()}
        want = {r.i: r.s for r in df.select(
            "i", word_shingles_expr(F.col("text"), n).alias("s")).collect()}
        assert got == want, f"n={n}: {got} != {want}"


def test_contamination_prune_is_lossless_vs_bruteforce(spark):
    # r5 added a threshold prune to candidacy (shared >= ceil(t*|B| -
    # hot_B)).  The prune is claimed SOUND — zero recall loss.  Pin that
    # against an independent brute-force containment computed in Python
    # over every (corpus, benchmark) pair, on data engineered to stress
    # the prune: near-threshold overlaps, duplicated shingles, short
    # docs, and a hot boilerplate shingle shared corpus-wide.
    from boon_spark.operators.dedup import cross_table_contamination
    boiler = "common header line always present"
    uniq = ["alpha beta gamma delta epsilon zeta",
            "one two three four five six seven",
            "red green blue yellow purple orange",
            "north south east west up down"]
    bench_rows = [(f"b{i}", f"{boiler} {u}") for i, u in enumerate(uniq)]
    corpus_rows = [
        ("c0", f"{boiler} {uniq[0]}"),                      # full containment
        ("c1", f"{boiler} {uniq[1].rsplit(' ', 3)[0]}"),    # partial
        ("c2", f"intro words here {uniq[2]} trailing"),     # embedded item
        ("c3", boiler),                                     # boiler only
        ("c4", "entirely unrelated content body text"),
        ("c5", f"{uniq[3]}"),                               # no boiler
    ]
    threshold, n = 0.5, 3

    def shingles(t):
        import re
        w = re.sub(r"\s+", " ", t.strip()).lower().split(" ")
        if len(w) <= n:
            return {" ".join(w)}
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    expected = set()
    for cid, ctext in corpus_rows:
        for bid, btext in bench_rows:
            A, B = shingles(ctext), shingles(btext)
            if B and len(A & B) / len(B) >= threshold:
                expected.add((cid, bid))

    corpus = spark.createDataFrame(corpus_rows, "doc_id string, text string")
    benchd = spark.createDataFrame(bench_rows, "doc_id string, text string")
    for max_df in (10_000, 3):  # no hot shingles / boiler shingles hot
        got = {(r.corpus_id, r.benchmark_id)
               for r in cross_table_contamination(
                   corpus, benchd, threshold=threshold,
                   metric="containment", max_df=max_df).collect()}
        if max_df == 10_000:
            assert got == expected, f"max_df={max_df}: {got} != {expected}"
        else:
            # hot hashes gate CANDIDACY only: results may lose pairs whose
            # ONLY shared shingles are hot (documented tradeoff) but must
            # never gain pairs or lose a pair with a non-hot witness
            def df_count(s):
                return sum(s in shingles(ct) for _, ct in corpus_rows)
            cmap, bmap = dict(corpus_rows), dict(bench_rows)
            with_nonhot = {
                (cid, bid) for (cid, bid) in expected
                if any(df_count(s) <= 3
                       for s in shingles(cmap[cid]) & shingles(bmap[bid]))}
            assert with_nonhot <= got <= expected, \
                f"{with_nonhot} <= {got} <= {expected} violated"


def test_contamination_prune_ieee_boundary(spark):
    # Regression (r5 review): the original integer prune
    # shared >= ceil(t*|B| - hot_B) silently dropped qualifying pairs
    # when t*|B| rounds UP in doubles.  t=0.28, |B|=25, inter=7:
    # 7/25 rounds to the same double as the 0.28 literal, so the final
    # filter keeps the pair — but ceil(double(0.28)*25) =
    # ceil(7.000000000000001) = 8 > 7 pruned it.  The prune now uses
    # the final filter's own IEEE comparison ((shared+hot_B)/|B| >= t).
    from boon_spark.operators.dedup import cross_table_contamination
    words = [f"w{i}" for i in range(27)]          # 25 distinct 3-shingles
    bench = spark.createDataFrame(
        [("b0", " ".join(words))], "doc_id string, text string")
    # contiguous 9-word run -> exactly 7 shingles, all shared
    corpus = spark.createDataFrame(
        [("c0", " ".join(words[4:13]))], "doc_id string, text string")
    got = cross_table_contamination(
        corpus, bench, threshold=0.28, metric="containment").collect()
    assert [(r.corpus_id, r.benchmark_id) for r in got] == [("c0", "b0")]
    assert abs(got[0].overlap - 7 / 25) < 1e-12


def test_cross_table_contamination_max_hot_guard(spark):
    # more hot shingles than max_hot must raise LOUDLY, never build an
    # oversized IN-set / driver collect (VERDICT r5 #3)
    from boon_spark.operators.dedup import cross_table_contamination
    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(f"c{i}", boiler) for i in range(5)],
        "doc_id string, text string")
    bench = spark.createDataFrame(
        [("b1", boiler)], "doc_id string, text string")
    with pytest.raises(ValueError, match="max_hot"):
        cross_table_contamination(
            corpus, bench, threshold=0.5, max_df=2, max_hot=1).collect()


def test_fused_shingle_minhash_matches_legacy(spark):
    # r7 optimization: the md5-family banded pipeline computes shingles
    # AND the minhash signature in ONE fused Arrow UDF
    # (_shingles_and_minhash) instead of the Python shingler plus
    # num_hashes interpreted JVM HOF transforms.  Pin bit-equality of
    # both struct fields against the legacy composition on the same
    # edge cases the shingler pin uses.
    from boon_spark.operators.dedup import (_shingles_and_minhash,
                                            minhash_signature,
                                            word_shingles)
    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "\t\n  mixed\twhitespace\n here  "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three"),
        (7, "one two three four"),
        (8, "UPPER Case Text Must Lower"),
        (9, "a b a b a b a b"),
        (10, "x " * 50 + "y"),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    for n, nh in ((3, 16), (2, 4), (1, 1)):
        fused = {r.i: (r.ss.sh, r.ss.sig) for r in df.select(
            "i", _shingles_and_minhash(F.col("text"), n, nh)
            .alias("ss")).collect()}
        legacy = {r.i: (r.sh, r.sig) for r in df.select(
            "i", word_shingles(F.col("text"), n).alias("sh"),
            minhash_signature(word_shingles(F.col("text"), n), nh,
                              hash_family="md5").alias("sig"))
            .collect()}
        for i, (sh, sig) in legacy.items():
            gsh, gsig = fused[i]
            assert gsh == sh, f"n={n} i={i}: shingles {gsh} != {sh}"
            if sh is None:
                assert gsig is None
            else:
                assert gsig == sig, f"n={n} i={i}: sig {gsig} != {sig}"


def test_near_dups_fused_matches_expression(spark):
    # r7 follow-up: quantize+signature+norm in embedding_near_dups_quantized
    # is one numpy Arrow pass; pin the emitted PAIRS bit-identical to the
    # pre-fusion expression reference (per-bit HOF projections + per-pair
    # norm re-derivation) on clean/ragged/NULL-element/near-boundary rows
    # and a >2-member bucket
    from pyspark.sql import functions as F
    from boon_spark.operators.dedup import (embedding_near_dups_quantized,
                                            quantized_planes)
    dim, bits, q_bits, seed = 8, 3, 10, 7
    rows = [
        (1, [0.5, 0.5, 0.0, 0.1, -0.3, 0.2, 0.9, -0.1]),
        (2, [0.5, 0.45, 0.05, 0.1, -0.3, 0.2, 0.9, -0.1]),   # near 1
        (3, [0.5, 0.44, 0.06, 0.1, -0.3, 0.2, 0.9, -0.1]),   # near 1,2
        (4, [-0.5, 0.5, 0.3, -0.2, 0.8, -0.7, 0.1, 0.6]),
        (5, [0.1, -0.4, 0.5, -0.5, -0.2, 0.3, -0.6, 0.7]),
        (6, [0.0] * 8),                                      # zero vector
        (7, [0.5, 0.45]),                                    # ragged
        (8, [0.5, None, 0.05, 0.1, -0.3, 0.2, 0.9, -0.1]),   # NULL elem
        (9, None),                                           # NULL row
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {(r.id_a, r.id_b) for r in embedding_near_dups_quantized(
        df, dim=dim, threshold_num=9, threshold_den=10, bits=bits,
        seed=seed, q_bits=q_bits).collect()}

    # expression reference == the pre-r7 implementation, verbatim shape
    planes = quantized_planes(dim, bits, seed, q_bits)
    scale = 1 << q_bits
    qv = F.transform(F.col("embedding"),
                     lambda x: F.floor(x * F.lit(scale)).cast("long"))
    clean = (F.size(F.col("embedding")) == dim) & \
        (F.size(F.filter(F.col("embedding"), lambda x: x.isNull())) == 0)
    base = df.filter(clean).select(F.col("vec_id").alias("_id"),
                                   qv.alias("_qv"))

    def proj(b):
        pl = F.array(*[F.lit(p).cast("long") for p in planes[b]])
        return F.aggregate(F.zip_with(F.col("_qv"), pl, lambda x, y: x * y),
                           F.lit(0).cast("long"), lambda acc, x: acc + x)

    sig = None
    for b in range(bits):
        term = F.when(proj(b) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    base = base.select("_id", "_qv", sig.cast("long").alias("_sig"))
    sizes = (base.groupBy("_sig").agg(F.count(F.lit(1)).alias("_bn"))
             .filter(F.col("_bn").between(2, 64)).drop("_bn"))
    capped = base.join(sizes, on="_sig")
    a = capped.select(F.col("_id").alias("id_a"),
                      F.col("_qv").alias("qa"), "_sig")
    b_ = capped.select(F.col("_id").alias("id_b"),
                       F.col("_qv").alias("qb"), "_sig")
    joined = a.join(b_, on="_sig").filter(F.col("id_a") < F.col("id_b"))

    def idot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda u, v: u * v),
                           F.lit(0).cast("long"), lambda acc, u: acc + u)

    want = {(r.id_a, r.id_b) for r in
            (joined.select("id_a", "id_b", idot(F.col("qa"), F.col("qb"))
                           .alias("_dot"),
                           idot(F.col("qa"), F.col("qa")).alias("_na"),
                           idot(F.col("qb"), F.col("qb")).alias("_nb"))
             .filter((F.col("_dot") > 0) &
                     (F.lit(100) * F.col("_dot") * F.col("_dot") >=
                      F.lit(81) * F.col("_na") * F.col("_nb")))
             .select("id_a", "id_b")).collect()}
    assert got == want and got, f"{got} != {want}"


def test_near_dups_fused_raises_on_nan(spark):
    # a genuine NaN coordinate (not a NULL element) aborts the expression
    # form's ANSI long cast; the fused path must fail the same rows
    # loudly instead of silently wrapping to INT64_MIN
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    from boon_spark.operators.dedup import embedding_near_dups_quantized
    df = spark.createDataFrame(
        [(1, [float("nan"), 0.1, 0.2, 0.3]), (2, [0.1, 0.1, 0.2, 0.3]),
         (3, [0.1, 0.11, 0.2, 0.3])],
        "vec_id int, embedding array<double>")
    with pytest.raises((PythonException, Py4JJavaError)):
        embedding_near_dups_quantized(df, dim=4, bits=2).collect()
