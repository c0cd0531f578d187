"""Bigram language-model scoring over token arrays — the CCNet-style
perplexity filter ("score each document under a reference n-gram LM,
keep/bucket by perplexity") that every large pretraining-corpus
pipeline runs.

Model: add-one-smoothed bigram LM.  For each adjacent token pair
(w1, w2) the negative log-likelihood contribution is
``ln((c1 + V) / (c12 + 1))`` — c12 = corpus count of the bigram,
c1 = corpus count of the unigram, V = vocabulary size.

Cross-engine exactness is the hard part: ``ln()`` is the BM25 float
problem again (engines differ in the last ulp; sums and rank ties
flip).  The fix here is stronger than quantized rationals: a
**shared integer boundary table**.  Python computes, once,
``B_i = ceil(e^(i/64))`` for i = 1..n_steps, and BOTH engines define

    q64(x) = #{ i : B_i <= x }   (= floor(64·ln x) up to boundary
                                    rounding — resolution 1/64 nat)

as a pure INTEGER count against that table — the engine via a
vectorized ``np.searchsorted`` on the broadcast array, the oracle via
a VALUES list.  No float ever crosses an engine boundary, so scores
are bit-identical by construction.  Per-bigram score s = q64(c12+1) −
q64(c1+V) ≤ 0; the document's ``nll_q64 = −Σs`` is an exact bigint
("64th-nats"), and ``avg_nll_mq64 = 1000·nll_q64 DIV n_bigrams`` is
the integer per-token quality score to threshold on.

Scale shape (10^12 tokens): fit = one explode + groupBy per n-gram
order (the exchanges carry (int, int, count) rows); scoring = pairs
explode joined against the count frames — the bigram join is the big
shuffle, and q64 is applied to the (distinct-bigram / distinct-unigram)
COUNT frames before the join, never per corpus row.  The boundary
table is a few KB broadcast.

Counts exceeding the last boundary raise loudly (engine-side
ValueError inside the q64 kernel) — raise ``n_steps`` to extend the
range: 768 steps cover counts up to e^12 ≈ 162k, 1920 up to e^30 ≈
10^13 (one literal per step, still KBs).

Unigram counts are over ALL token occurrences (not just context
positions) — a documented simplification mirrored exactly in the
oracle.  Documents with fewer than 2 tokens have no bigrams and do
not appear in the output.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ckpt import StorageLevel, pin, release

__all__ = ["ln64_bounds", "fit_bigram_lm", "score_bigram_lm",
           "score_bigram_lm_oracle_sql", "pmi_collocations",
           "pmi_collocations_oracle_sql", "fit_backoff_lm",
           "score_backoff_lm", "score_backoff_lm_oracle_sql"]

#: q64 resolution: 64 steps per nat
LN64_R = 64

#: default boundary-table size — covers counts up to e^30 ≈ 1.07e13
#: (per-count literals both engines: ~1920 ints, KBs — cheap insurance
#: against the loud out-of-range raise on bigger corpora)
LM_STEPS_DEFAULT = 1920


def ln64_bounds(n_steps: int = LM_STEPS_DEFAULT) -> np.ndarray:
    """The shared integer boundary table ``B_i = ceil(e^(i/64))``,
    i = 1..n_steps, ascending with duplicates (small i repeat the same
    integer — the duplicates ARE the step function).  Computed once in
    Python and rendered into both engines, so any float rounding here
    is shared, not divergent."""
    if n_steps < 1:
        raise ValueError(f"n_steps must be >= 1, got {n_steps}")
    return np.array([math.ceil(math.exp(i / LN64_R))
                     for i in range(1, n_steps + 1)], dtype=np.int64)


def _pairs(df: DataFrame, tokens_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2) — one row per adjacent token pair.  Row-local
    (``arrays_zip`` of two slices is a plain expression, not a HOF);
    docs with <2 tokens are filtered before the slice so the -length
    slice can't trip ANSI mode."""
    t = F.col(tokens_col)
    z = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("w1"),
        F.slice(t, 2, F.size(t) - 1).alias("w2"))
    return (df.filter(F.size(t) >= 2)
              .select(F.col(id_col), F.explode(z).alias("p"))
              .select(id_col,
                      F.col("p.w1").cast("long").alias("w1"),
                      F.col("p.w2").cast("long").alias("w2")))


def fit_bigram_lm(df: DataFrame, *, tokens_col: str = "tokens",
                  id_col: str = "doc_id",
                  n_steps: int = LM_STEPS_DEFAULT) -> dict:
    """Fit the count model: ``{"uni": DF(w1, c1), "bi": DF(w1, w2,
    c12), "vocab": int, "bounds": np.ndarray, "n_steps": int}``.
    Two explode+groupBy passes; the count frames stay distributed
    (never collected) — only V, a single int, reaches the driver."""
    t = F.col(tokens_col)
    uni = (df.select(F.explode(t).alias("_w"))
             .select(F.col("_w").cast("long").alias("w1"))
             .groupBy("w1")
             .agg(F.count(F.lit(1)).cast("long").alias("c1")))
    bi = (_pairs(df, tokens_col, id_col)
          .groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).cast("long").alias("c12")))
    # persist (NOT the r7 lazy checkpoint): the count frames are
    # consumed by the driver count here AND as broadcast-join build
    # sides in scoring, and NO ReusedExchange forms across a broadcast
    # boundary (the measured bm25 law).  A localCheckpoint was measured
    # WORSE here — the LogicalRDD loses size statistics, flipping the
    # corpus-side score joins from broadcast to sort-merge (lm_score
    # 2.3s -> 4.5s) — while persist keeps accurate in-memory stats.
    uni = pin(uni, StorageLevel.MEMORY_AND_DISK_DESER)
    bi = pin(bi, StorageLevel.MEMORY_AND_DISK_DESER)
    vocab = uni.count()
    return {"uni": uni, "bi": bi, "vocab": int(vocab),
            "bounds": ln64_bounds(n_steps), "n_steps": int(n_steps)}


def _q64_udf(spark, bounds: np.ndarray):
    b_bounds = spark.sparkContext.broadcast(bounds)

    @F.pandas_udf("long")
    def q64(x: pd.Series) -> pd.Series:
        b = b_bounds.value
        vals = x.to_numpy()
        over = vals > b[-1]
        if over.any():
            bad = int(vals[over][0])
            raise ValueError(
                f"q64 argument {bad} exceeds the boundary table "
                f"(max {int(b[-1])}) — raise n_steps")
        return pd.Series(np.searchsorted(b, vals, side="right"))

    return q64


def score_bigram_lm(df: DataFrame, model: dict, *,
                    tokens_col: str = "tokens",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document LM score under the fitted model: ``(id, n_bigrams,
    nll_q64, avg_nll_mq64)`` — all exact integers (see module doc).
    Unseen bigrams smooth to c12 = 0 (q64(1) = 0); unseen context
    unigrams to c1 = 0.  q64 runs over the COUNT frames (distinct
    n-grams), never per corpus row."""
    spark = df.sparkSession
    q64 = _q64_udf(spark, model["bounds"])
    v = int(model["vocab"])
    biq = model["bi"].withColumn("qn", q64(F.col("c12") + 1))
    uniq = model["uni"].withColumn("qd", q64(F.col("c1") + F.lit(v)))
    pairs = _pairs(df, tokens_col, id_col)
    # unseen w1: qd is NULL -> contribution is q64(0 + V), computed
    # once driver-side with the same searchsorted definition.  Loud
    # over-range guard first (ADVICE r6: a silent clamp here diverged
    # from lm_stream's raising q64 kernel on vocab > bounds[-1])
    if v > int(model["bounds"][-1]):
        raise ValueError(
            f"vocabulary size {v} exceeds the boundary table "
            f"(max {int(model['bounds'][-1])}) — raise n_steps")
    q_v = int(np.searchsorted(model["bounds"],
                              np.int64(v), side="right"))
    scored = (pairs
              .join(biq, ["w1", "w2"], "left")
              .join(uniq, ["w1"], "left")
              .select(id_col,
                      (F.coalesce(F.col("qn"), F.lit(0))
                       - F.coalesce(F.col("qd"), F.lit(q_v)))
                      .alias("s")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 (-F.sum("s")).cast("long").alias("nll_q64"))
            .withColumn("avg_nll_mq64",
                        F.expr("(nll_q64 * 1000) div n_bigrams")
                        .cast("long")))


def score_bigram_lm_oracle_sql(*, gen_sql: str = "doc_id",
                               vocab: int = 997,
                               n_steps: int = LM_STEPS_DEFAULT) -> str:
    """DuckDB reproduction over the shared synthetic-token corpus
    (fit corpus == scored corpus, like the gate): same counts, same
    boundary table rendered as a VALUES list, same integer q64 —
    scores match bit-for-bit."""
    from .tokens import _synth_cte
    bounds = ln64_bounds(n_steps)
    vals = ", ".join(f"({int(b)})" for b in bounds)
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), bounds(b) AS (VALUES {vals}
        ), pairs AS (
          SELECT doc_id,
                 CAST(toks[i + 1] AS BIGINT) AS w1,
                 CAST(toks[i + 2] AS BIGINT) AS w2
          FROM (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(n - 1 AS BIGINT))) AS i
            FROM tok WHERE n >= 2)
        ), uni AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS c1
          FROM (SELECT CAST(unnest(toks) AS BIGINT) AS w1 FROM tok)
          GROUP BY w1
        ), voc AS (
          SELECT count(*) AS v FROM uni
        ), bi AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM pairs GROUP BY w1, w2
        ), vals AS (
          SELECT DISTINCT c12 + 1 AS x FROM bi
          UNION
          SELECT DISTINCT c1 + (SELECT v FROM voc) AS x FROM uni
        ), qmap AS (
          SELECT x, (SELECT count(*) FROM bounds WHERE b <= x) AS q
          FROM vals
        ), biq AS (
          SELECT bi.w1, bi.w2, qm.q AS qn
          FROM bi JOIN qmap qm ON qm.x = bi.c12 + 1
        ), uniq_ AS (
          SELECT uni.w1, qm.q AS qd
          FROM uni JOIN qmap qm
            ON qm.x = uni.c1 + (SELECT v FROM voc)
        ), scored AS (
          SELECT p.doc_id, biq.qn - uniq_.qd AS s
          FROM pairs p
          JOIN biq ON biq.w1 = p.w1 AND biq.w2 = p.w2
          JOIN uniq_ ON uniq_.w1 = p.w1
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(-sum(s) AS BIGINT) AS nll_q64,
               CAST((-sum(s) * 1000) // count(*) AS BIGINT)
                 AS avg_nll_mq64
        FROM scored GROUP BY doc_id
    """


def pmi_collocations(df: DataFrame, k: int, *,
                     tokens_col: str = "tokens",
                     id_col: str = "doc_id", min_count: int = 3,
                     n_steps: int = LM_STEPS_DEFAULT) -> DataFrame:
    """Top-``k`` token collocations by quantized PMI — the vocabulary
    curation staple ("which token pairs co-occur far above chance") on
    the same exact-integer footing as the LM score.

    PMI = ln(c12·N / (c1·c2)) is DEFINED here as the integer

        pmi_q64 = q64(c12) + q64(N) − q64(c1) − q64(c2)

    — each term a boundary-table count on a bare COUNT (never a
    product, so nothing can overflow int64 at any corpus size; the
    additivity error vs a true log of the ratio is ≤ 4 steps = 1/16
    nat, constant and shared by both engines).  c1/c2 are the pair
    marginals (w as first / second element), N the total pair count.
    ``min_count`` prunes rare pairs (PMI on hapax pairs is noise —
    standard practice, and it keeps the oracle's q-map small).
    Output ``(rank, w1, w2, c12, pmi_q64)`` by (pmi desc, w1, w2) —
    orderBy+limit plans as TakeOrderedAndProject, then the rank window
    runs over k survivors only (the ranked_topk shape)."""
    from pyspark.sql.window import Window
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    spark = df.sparkSession
    bounds = ln64_bounds(n_steps)
    q64 = _q64_udf(spark, bounds)
    bi = pin(_pairs(df, tokens_col, id_col)
             .groupBy("w1", "w2")
             .agg(F.count(F.lit(1)).cast("long").alias("c12")))
    # pinned (r7): consumed by the total, two marginals, and cand
    n_pairs = bi.agg(F.sum("c12")).first()[0]
    if n_pairs is None or n_pairs == 0:
        release(bi)
        return spark.createDataFrame(
            [], "rank long, w1 long, w2 long, c12 long, pmi_q64 long")
    if int(n_pairs) > int(bounds[-1]):
        release(bi)  # release cached blocks before the loud raise
        # (ADVICE r6: the zero-row path already does — symmetry)
        raise ValueError(
            f"total pair count {n_pairs} exceeds the boundary table "
            f"(max {int(bounds[-1])}) — raise n_steps")
    q_n = int(np.searchsorted(bounds, np.int64(n_pairs), side="right"))
    c1 = bi.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    c2 = bi.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
    cand = (bi.filter(F.col("c12") >= F.lit(int(min_count)))
              .join(c1, "w1").join(c2, "w2")
              .withColumn("pmi_q64",
                          (q64(F.col("c12")) + F.lit(q_n)
                           - q64(F.col("c1")) - q64(F.col("c2")))
                          .cast("long")))
    order = [F.col("pmi_q64").desc(), F.col("w1").asc(),
             F.col("w2").asc()]
    top = cand.orderBy(*order).limit(int(k))
    w = Window.orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "w1", "w2", "c12", "pmi_q64"))


def pmi_collocations_oracle_sql(k: int, *, gen_sql: str = "doc_id",
                                vocab: int = 997, min_count: int = 3,
                                n_steps: int = LM_STEPS_DEFAULT) -> str:
    """Bit-exact DuckDB reproduction of :func:`pmi_collocations` over
    the shared synthetic-token corpus — same boundary table, same
    four-term integer PMI, same (pmi desc, w1, w2) total order."""
    from .tokens import _synth_cte
    bounds = ln64_bounds(n_steps)
    vals = ", ".join(f"({int(b)})" for b in bounds)
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), bounds(b) AS (VALUES {vals}
        ), pairs AS (
          SELECT CAST(toks[i + 1] AS BIGINT) AS w1,
                 CAST(toks[i + 2] AS BIGINT) AS w2
          FROM (
            SELECT toks,
                   unnest(range(0, CAST(n - 1 AS BIGINT))) AS i
            FROM tok WHERE n >= 2)
        ), bi AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM pairs GROUP BY w1, w2
        ), tot AS (
          SELECT CAST(sum(c12) AS BIGINT) AS n FROM bi
        ), m1 AS (
          SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1
        ), m2 AS (
          SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM bi GROUP BY w2
        ), vals_ AS (
          SELECT DISTINCT c12 AS x FROM bi WHERE c12 >= {int(min_count)}
          UNION SELECT DISTINCT c1 FROM m1
          UNION SELECT DISTINCT c2 FROM m2
          UNION SELECT n FROM tot
        ), qmap AS (
          SELECT x, (SELECT count(*) FROM bounds WHERE b <= x) AS q
          FROM vals_
        ), cand AS (
          SELECT bi.w1, bi.w2, bi.c12,
                 q12.q + qn.q - q1.q - q2.q AS pmi_q64
          FROM bi
          JOIN m1 ON m1.w1 = bi.w1
          JOIN m2 ON m2.w2 = bi.w2
          JOIN qmap q12 ON q12.x = bi.c12
          JOIN qmap q1 ON q1.x = m1.c1
          JOIN qmap q2 ON q2.x = m2.c2
          JOIN tot ON true
          JOIN qmap qn ON qn.x = tot.n
          WHERE bi.c12 >= {int(min_count)}
        )
        SELECT CAST(row_number() OVER
                 (ORDER BY pmi_q64 DESC, w1 ASC, w2 ASC) AS BIGINT)
                 AS rank,
               w1, w2, c12, CAST(pmi_q64 AS BIGINT) AS pmi_q64
        FROM cand
        ORDER BY rank LIMIT {int(k)}
    """


#: stupid-backoff discount ln(0.4) in q64 steps — a SHARED literal
#: (round(64·ln 0.4) = -59), never a float at runtime
BACKOFF_Q64 = -59


def _triples(df: DataFrame, tokens_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2, w3) — one row per adjacent token triple (docs with
    <3 tokens are filtered first)."""
    t = F.col(tokens_col)
    z = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 2).alias("w1"),
        F.slice(t, 2, F.size(t) - 2).alias("w2"),
        F.slice(t, 3, F.size(t) - 2).alias("w3"))
    return (df.filter(F.size(t) >= 3)
              .select(F.col(id_col), F.explode(z).alias("p"))
              .select(id_col,
                      F.col("p.w1").cast("long").alias("w1"),
                      F.col("p.w2").cast("long").alias("w2"),
                      F.col("p.w3").cast("long").alias("w3")))


def fit_backoff_lm(df: DataFrame, *, tokens_col: str = "tokens",
                   id_col: str = "doc_id",
                   n_steps: int = LM_STEPS_DEFAULT) -> dict:
    """Fit the stupid-backoff trigram model (Brants et al. 2007 —
    "Large Language Models in Machine Translation": no normalization,
    a fixed 0.4 backoff discount; THE web-scale n-gram scoring rule
    because it needs only raw counts):

        S(w3|w1,w2) = c123/c12         if c123 > 0
                    = 0.4 · S(w3|w2)   else
        S(w3|w2)    = c23/c2           if c23 > 0
                    = 0.4 · c3/N       else

    Count frames stay distributed; only N (one long) reaches the
    driver.  In q64 units the discount is the shared integer literal
    ``BACKOFF_Q64 = round(64·ln 0.4) = -59``."""
    uni = (df.select(F.explode(F.col(tokens_col)).alias("_w"))
             .select(F.col("_w").cast("long").alias("w"))
             .groupBy("w")
             .agg(F.count(F.lit(1)).cast("long").alias("c")))
    bi = (_pairs(df, tokens_col, id_col)
          .groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).cast("long").alias("c12")))
    tri = (_triples(df, tokens_col, id_col)
           .groupBy("w1", "w2", "w3")
           .agg(F.count(F.lit(1)).cast("long").alias("c123")))
    # same persist-not-checkpoint rationale as fit_bigram_lm (the
    # broadcast-stats measurement); tri has ONE consumer (the
    # seen-trigram arm), so pinning it would only pay a
    # materialization write for nothing (r7)
    uni = pin(uni, StorageLevel.MEMORY_AND_DISK_DESER)
    bi = pin(bi, StorageLevel.MEMORY_AND_DISK_DESER)
    n_tokens = uni.agg(F.sum("c")).first()[0] or 0
    return {"uni": uni, "bi": bi, "tri": tri,
            "n_tokens": int(n_tokens),
            "bounds": ln64_bounds(n_steps), "n_steps": int(n_steps)}


def score_backoff_lm(df: DataFrame, model: dict, *,
                     tokens_col: str = "tokens",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document stupid-backoff trigram score: ``(id, n_trigrams,
    nll_q64, avg_nll_mq64)`` — exact integers; docs with <3 tokens
    emit nothing.  Each count frame is q64-annotated BEFORE joining
    the triples (the kernel never runs per corpus row); the backoff
    arms are one codegen'd CASE.  An unseen last token scores
    2·BACKOFF + q64(0) − q64(N) (q64(0) = 0, the documented floor)."""
    spark = df.sparkSession
    q64 = _q64_udf(spark, model["bounds"])
    n_tok = int(model["n_tokens"])
    q_n = int(np.searchsorted(model["bounds"], np.int64(max(n_tok, 1)),
                              side="right"))
    if n_tok > int(model["bounds"][-1]):
        raise ValueError(
            f"total token count {n_tok} exceeds the boundary table "
            f"(max {int(model['bounds'][-1])}) — raise n_steps")
    trips = _triples(df, tokens_col, id_col)
    a = F.lit(BACKOFF_Q64)
    # r7: fold each backoff arm onto its COUNT frame first, so the
    # corpus-side triple stream pays THREE joins, not five (at corpus
    # scale occurrences >> distinct n-grams, so count-frame joins are
    # the cheap side).  Exact-integer equivalence with the five-join
    # form: a seen trigram implies its (w1,w2) bigram is seen (c12 >=
    # c123 > 0), so s1 = qa - qb is non-NULL exactly when qa is; a seen
    # (w2,w3) bigram implies w2 is seen, so s2 = a + qc - qd likewise.
    # The raw counts join FIRST and the q64 kernels apply in one
    # projection per arm — adjacent pandas UDFs fuse into a single
    # ArrowEvalPython node, so the plan runs 3 Python evals, not 5
    # (still only ever over count frames, never corpus rows).
    bi12 = model["bi"].select("w1", "w2", "c12")
    bi23 = model["bi"].select(F.col("w1").alias("w2"),
                              F.col("w2").alias("w3"),
                              F.col("c12").alias("c23"))
    uni2 = model["uni"].select(F.col("w").alias("w2"),
                               F.col("c").alias("c2"))
    uni3_q = model["uni"].select(F.col("w").alias("w3"),
                                 q64(F.col("c")).alias("qe"))
    tri_s = (model["tri"].join(bi12, ["w1", "w2"])
             .select("w1", "w2", "w3",
                     (q64(F.col("c123")) - q64(F.col("c12")))
                     .alias("s1")))
    pair_s = (bi23.join(uni2, ["w2"])
              .select("w2", "w3",
                      (a + q64(F.col("c23")) - q64(F.col("c2")))
                      .alias("s2")))
    s = (F.when(F.col("s1").isNotNull(), F.col("s1"))
         .when(F.col("s2").isNotNull(), F.col("s2"))
         .otherwise(2 * a + F.coalesce(F.col("qe"), F.lit(0))
                    - F.lit(q_n)))
    scored = (trips
              .join(tri_s, ["w1", "w2", "w3"], "left")
              .join(pair_s, ["w2", "w3"], "left")
              .join(uni3_q, ["w3"], "left")
              .select(id_col, s.alias("s")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_trigrams"),
                 (-F.sum("s")).cast("long").alias("nll_q64"))
            .withColumn("avg_nll_mq64",
                        F.expr("(nll_q64 * 1000) div n_trigrams")
                        .cast("long")))


def score_backoff_lm_oracle_sql(*, gen_sql: str = "doc_id",
                                vocab: int = 997,
                                n_steps: int = LM_STEPS_DEFAULT) -> str:
    """DuckDB reproduction of :func:`score_backoff_lm` over the shared
    synthetic-token corpus — same counts, same boundary table, same
    three-arm CASE with the shared -59 discount."""
    from .tokens import _synth_cte
    bounds = ln64_bounds(n_steps)
    vals = ", ".join(f"({int(b)})" for b in bounds)
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), bounds(b) AS (VALUES {vals}
        ), trips AS (
          SELECT doc_id,
                 CAST(toks[i + 1] AS BIGINT) AS w1,
                 CAST(toks[i + 2] AS BIGINT) AS w2,
                 CAST(toks[i + 3] AS BIGINT) AS w3
          FROM (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(n - 2 AS BIGINT))) AS i
            FROM tok WHERE n >= 3)
        ), uni AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT CAST(unnest(toks) AS BIGINT) AS w FROM tok)
          GROUP BY w
        ), bi AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM (
            SELECT CAST(toks[i + 1] AS BIGINT) AS w1,
                   CAST(toks[i + 2] AS BIGINT) AS w2
            FROM (
              SELECT toks,
                     unnest(range(0, CAST(n - 1 AS BIGINT))) AS i
              FROM tok WHERE n >= 2))
          GROUP BY w1, w2
        ), tri AS (
          SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
          FROM trips GROUP BY w1, w2, w3
        ), tot AS (
          SELECT CAST(sum(c) AS BIGINT) AS n FROM uni
        ), vals_ AS (
          SELECT DISTINCT c123 AS x FROM tri
          UNION SELECT DISTINCT c12 FROM bi
          UNION SELECT DISTINCT c FROM uni
          UNION SELECT n FROM tot
        ), qmap AS (
          SELECT x, (SELECT count(*) FROM bounds WHERE b <= x) AS q
          FROM vals_
        ), scored AS (
          SELECT p.doc_id,
                 CASE
                   WHEN qa.q IS NOT NULL THEN qa.q - qb.q
                   WHEN qc.q IS NOT NULL
                     THEN {BACKOFF_Q64} + qc.q - qd.q
                   ELSE {2 * BACKOFF_Q64} + coalesce(qe.q, 0)
                        - (SELECT qm.q FROM qmap qm, tot
                           WHERE qm.x = tot.n)
                 END AS s
          FROM trips p
          LEFT JOIN tri ON tri.w1 = p.w1 AND tri.w2 = p.w2
                       AND tri.w3 = p.w3
          LEFT JOIN qmap qa ON qa.x = tri.c123
          LEFT JOIN bi b12 ON b12.w1 = p.w1 AND b12.w2 = p.w2
          LEFT JOIN qmap qb ON qb.x = b12.c12
          LEFT JOIN bi b23 ON b23.w1 = p.w2 AND b23.w2 = p.w3
          LEFT JOIN qmap qc ON qc.x = b23.c12
          LEFT JOIN uni u2 ON u2.w = p.w2
          LEFT JOIN qmap qd ON qd.x = u2.c
          LEFT JOIN uni u3 ON u3.w = p.w3
          LEFT JOIN qmap qe ON qe.x = u3.c
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(-sum(s) AS BIGINT) AS nll_q64,
               CAST((-sum(s) * 1000) // count(*) AS BIGINT)
                 AS avg_nll_mq64
        FROM scored GROUP BY doc_id
    """
