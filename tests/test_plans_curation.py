"""Physical-plan regression tests for the round-5 curation families —
the scale claims their docstrings make, pinned against ``executedPlan``
so they can't silently rot (same contract as test_plans.py):

* sequence packing: the corpus-wide prefix sum NEVER moves the corpus
  to one partition (the naive ``Window.orderBy`` plan it exists to
  avoid) — the only single-partition exchange is the n_buckets-row
  totals frame;
* boilerplate removal: the returned frame is a pure row-local
  projection over the scan (the hot-line set was collected during
  construction; the corpus itself never shuffles);
* token k-gram candidates: every exchange carries 8-byte hashes, never
  the token arrays, and the cold frame is reused via the persist;
* ranked top-k (vocab/token): the ordered take plans as
  ``TakeOrderedAndProject`` — per-partition partial top-k, never a
  global sort of the counts table.
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(f"d{i:04d}",
             f"alpha beta {i} gamma delta line.\ncommon footer line here.",
             f"s{i % 3}") for i in range(200)]
    return spark.createDataFrame(rows, "doc_id string, text string, "
                                       "source string")


@pytest.fixture(scope="module")
def toks(spark, docs):
    from boon_spark.operators.tokens import synthetic_tokens
    with_n = docs.withColumn(
        "n_tok", F.size(F.split(F.trim("text"), r"\s+")))
    return synthetic_tokens(with_n)


def test_pack_chunks_corpus_never_single_partition(spark, docs):
    from boon_spark.operators.packing import pack_chunks
    d = docs.withColumn("n_tok", F.size(F.split(F.trim("text"), r"\s+")))
    plan = _plan(pack_chunks(d, 16, n_buckets=8))
    # the corpus-side cumsum window is partitioned by bucket
    assert "Exchange hashpartitioning(_bkt" in plan
    # exactly ONE single-partition exchange: the n_buckets-row totals
    # window.  A second one would mean the corpus itself collapsed to
    # one partition — the exact plan this module exists to avoid.
    assert len(re.findall(r"Exchange SinglePartition", plan)) == 1
    # the bucket offsets come back as a broadcast, not a shuffled join
    assert "BroadcastHashJoin" in plan


def test_materialize_chunks_one_chunk_exchange(spark, toks):
    from boon_spark.operators.packing import materialize_chunks
    plan = _plan(materialize_chunks(toks, 16, n_buckets=8))
    # chunk assembly adds exactly one more hash exchange (by chunk_id),
    # with map-side partial collect of the (pos, piece) structs
    assert len(re.findall(r"Exchange hashpartitioning\(chunk_id",
                          plan)) == 1
    assert "partial_collect_list" in plan
    assert len(re.findall(r"Exchange SinglePartition", plan)) == 1


def test_remove_boilerplate_output_is_shuffle_free(spark, docs):
    from boon_spark.operators.cleaning import remove_boilerplate
    out = remove_boilerplate(docs, min_df=100)
    assert out.filter(F.col("n_lines_removed") > 0).count() == 200
    # phase 2 is a row-local IN-set line filter over the original scan:
    # the returned frame must contain NO exchange of any kind
    assert "Exchange" not in _plan(out)


def test_token_kgram_exchanges_carry_hashes_not_tokens(spark, toks):
    from boon_spark.operators._ckpt import scope
    from boon_spark.operators.tokens import token_kgram_candidates
    with scope():
        plan = _plan(token_kgram_candidates(toks, 3, max_bucket=300))
        # every partitioning key in the plan is the hash, an id, or the
        # pair ids — the token arrays never cross an exchange
        for ln in plan.splitlines():
            if "hashpartitioning" in ln:
                assert "_toks" not in ln and "tokens" not in ln, ln
        # the cold (document, hash) frame is persisted and reused by the
        # pair join and the per-doc size aggregation
        assert "InMemoryTableScan" in plan


def test_ranked_topk_plans_as_take_ordered(spark, docs, toks):
    from boon_spark.operators.cleaning import vocab_topk
    from boon_spark.operators.tokens import token_topk
    for df in (vocab_topk(docs, 10), token_topk(toks, 10)):
        plan = _plan(df)
        # per-partition partial top-k merged on the driver — the counts
        # table is never globally sorted nor moved to one partition
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan


def test_span_removal_hot_starts_join_is_not_forced_broadcast(spark):
    from boon_spark.operators.tokens import remove_hot_kgram_spans
    # shared [1,2,3] prefix makes the 3-gram hot -> the hot_starts join
    # branch is active
    rows = [(f"d{i}", [1, 2, 3, 100 + i]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = remove_hot_kgram_spans(df, 3, min_df=2)
    # hot_starts is one row per AFFECTED document (corpus-sized when
    # boilerplate is corpus-wide), so it must NOT carry a broadcast
    # hint — AQE may still broadcast at runtime when it measures the
    # frame small, which is the desired behavior.  A hint survives into
    # the optimized logical plan as `strategy=broadcast`.
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    # the join itself is still there (left join on the doc id)
    assert "Join LeftOuter" in logical


def test_split_points_single_pass_no_count(spark):
    # the split-point sample is a hash-order top-K (one corpus pass,
    # TakeOrderedAndProject) — never a count + Bernoulli sample (the
    # count was the packing family's only avoidable scan, r5 finding)
    from boon_spark.operators.packing import _split_points
    df = spark.createDataFrame([(f"d{i:03d}", i) for i in range(100)],
                               "doc_id string, n_tok int")
    sample_plan = _plan(
        df.select("doc_id")
        .orderBy(F.xxhash64(F.col("doc_id").cast("string"), F.lit(1)))
        .limit(16))
    assert "TakeOrderedAndProject" in sample_plan
    pts = _split_points(df, "doc_id", 4, 16, seed=9407)
    assert pts == sorted(pts) and 0 < len(pts) <= 3
    # deterministic across invocations (seeded hash order)
    assert pts == _split_points(df, "doc_id", 4, 16, seed=9407)
    # empty frame: no split points, no crash (and still no count job)
    empty = spark.createDataFrame([], "doc_id string, n_tok int")
    assert _split_points(empty, "doc_id", 4, 16, seed=9407) == []
