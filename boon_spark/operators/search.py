"""Lexical (BM25) top-k search over a document corpus.

The retrieval complement to :mod:`similarity`'s embedding ANN family:
keyword search is how a curation pipeline pulls "every document that
mentions X" out of 100 TB — decontamination triage, targeted audits,
eval-set assembly.  Reference scope note: boon itself has no search
operator; this belongs to the repo's LLM-data-pipeline layer (brief
§"training-data pipeline"), designed like the quantized ANN family
(`similarity.py::lsh_topk_quantized`).

Why a QUANTIZED score: classic BM25 is a sum of `ln()` terms — Java's
``Math.log`` and DuckDB's libm ``log`` are not guaranteed to agree in
the last ulp, and a 1-ulp score difference flips ranks at ties, so a
float BM25 cannot be oracle-paired.  Every step here is int64
arithmetic, bit-identical in any engine:

- ``idf_int = (IDF_SCALE * (2*(N - df) + 1)) div (2*df + 1)`` — the
  exact floor of ``IDF_SCALE * (N - df + 0.5)/(df + 0.5)`` (the
  probabilistic idf ratio; the canonical ``ln(1 + ratio)`` is monotone
  in it, so top-k ordering is preserved whenever idf differences
  dominate — and the quantization is the documented contract either
  way).
- the tf-saturation term ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
  is a ratio of integers once multiplied through by
  ``k1d * bd * avg_dl_m`` (k1 = k1n/k1d, b = bn/bd, avgdl carried as
  integer milli-tokens ``avg_dl_m = (1000*TT) div N``):

      tfq = (TF_SCALE * (k1n + k1d) * bd * avg_dl_m * tf)
            div (k1d*bd*avg_dl_m*tf + k1n*(bd-bn)*avg_dl_m
                 + k1n*bn*1000*dl)

- ``score = sum_t  qtf_t * idf_int_t * tfq_t`` over shared terms.

Scale shape (10^12 rows): the corpus is scanned twice, both scans
column-pruned to (id, text) — once for the (N, total-tokens) scalar
aggregate, once for postings.  The posting explode is a row-local
generate immediately gated by a **broadcast** join on the (tiny) query
term set, so only matching postings ever reach a shuffle; document
frequencies aggregate over those matches only and broadcast back.  No
full inverted index is materialized.  The final per-query top-k is a
rank window over matched (query, doc) pairs.  The two twice-consumed
intermediates (query terms, matched postings — both small by contract)
are persisted spill-safely (without this Spark recomputes each subtree
per consumer: measured 6 scans and 2 posting shuffles instead of 3 and
1, 4x wall time).

Overflow is a contract, not an assumption (same policy as
``lsh_topk_quantized``): the plan-time guard bounds the worst-case
score by the declared ``max_docs``/``max_query_len``/``max_doc_len``
(the ``adl·tf`` intermediate grows with the SQUARE of document length,
so document length is part of the contract, not just corpus size);
queries longer than ``max_query_len`` tokens and documents longer than
``max_doc_len`` tokens are EXCLUDED identically in both engines (from
both the stats and the postings, so ``avg_dl_m`` stays bounded), and a
corpus larger than ``max_docs`` raises at run time inside the idf
expression (``raise_error`` arm — kept in the used expression so
Catalyst cannot prune it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._ckpt import StorageLevel, pin
from .dedup import normalized_text
from .packing import _div

#: tf-saturation quantization scale (2^10: ~3 decimal digits of the
#: [0, k1+1) saturation curve).
TF_SCALE = 1 << 10
#: idf quantization scale (2^10 — with the 2^32 default
#: max_docs this is the largest scale whose worst-case score
#: stays in int64 with ~20x headroom).
IDF_SCALE = 1 << 10


def doc_tokens(col: Column) -> Column:
    """Whitespace tokens of :func:`~.dedup.normalized_text` — the one
    tokenizer every lexical operator and every DuckDB oracle shares
    (``string_split(norm, ' ')`` on the oracle side).  NULL text stays
    NULL; empty text tokenizes to ``['']`` in both engines, which
    :func:`doc_len` and the posting filters treat as length 0."""
    return F.split(normalized_text(col), " ")


def doc_len(col: Column) -> Column:
    """Token count of a document under :func:`doc_tokens`: 0 for NULL
    or whitespace-only text (whose split is ``['']`` — a phantom empty
    token both engines would otherwise count)."""
    norm = normalized_text(col)
    return (F.when(norm.isNull() | (norm == ""), F.lit(0))
            .otherwise(F.size(F.split(norm, " ")))).cast("long")


def _check_params(k1: tuple, b: tuple, max_docs: int, max_query_len: int,
                  max_doc_len: int):
    k1n, k1d = k1
    bn, bd = b
    if k1n <= 0 or k1d <= 0 or bn < 0 or bd <= 0 or bn > bd:
        raise ValueError(f"k1 must be > 0 and b in [0, 1] as positive "
                         f"rationals, got k1={k1}, b={b}")
    # worst case: idf at df=1, tf-saturation at its k1+1 asymptote,
    # query tf summing to max_query_len
    idf_max = (IDF_SCALE * (2 * max_docs + 1)) // 3
    tfq_max = (TF_SCALE * (k1n + k1d)) // k1d + 1
    if max_query_len * idf_max * tfq_max >= (1 << 63):
        raise ValueError(
            f"score overflow: max_docs={max_docs}, "
            f"max_query_len={max_query_len}, k1={k1} exceed int64 — "
            f"lower max_docs or max_query_len")
    # the tfq NUMERATOR intermediate: TF_SCALE*(k1n+k1d)*bd * adl * tf,
    # with adl <= 1000*max_doc_len (long docs are excluded from the
    # stats too) and tf <= max_doc_len — quadratic in document length
    if (TF_SCALE * (k1n + k1d) * bd
            * (1000 * max_doc_len) * max_doc_len) >= (1 << 63):
        raise ValueError(
            f"tf-term overflow: max_doc_len={max_doc_len} with k1={k1}, "
            f"b={b} exceeds int64 (the adl*tf intermediate is quadratic "
            f"in document length) — lower max_doc_len")
    return k1n, k1d, bn, bd


def _idf_expr(df_col, n, max_docs: int):
    """Quantized idf with the runtime ``max_docs`` raise_error arm —
    shared by the score and the audit companion so the contract is
    enforced (not prunable) in BOTH."""
    return F.when(
        n > F.lit(int(max_docs)),
        F.raise_error(F.concat(
            F.lit(f"bm25: corpus exceeds max_docs={max_docs} "
                  "(score overflow contract) — got "),
            n.cast("string"))).cast("long")
    ).otherwise(_div(F.lit(IDF_SCALE).cast("long")
                     * (2 * (n - df_col) + 1),
                     2 * df_col + 1))


def _query_terms(queries: DataFrame, query_id_col: str, query_text_col: str,
                 max_query_len: int) -> DataFrame:
    """(query_id, term, qtf) for queries within the length contract —
    longer queries are EXCLUDED (both engines; see module overflow
    note).  Empty-string terms (whitespace-only queries) are dropped."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        doc_tokens(F.col(query_text_col)).alias("_qt"),
        doc_len(F.col(query_text_col)).alias("_qn"))
    return (q.filter((F.col("_qn") > 0) & (F.col("_qn") <= max_query_len))
            .select("query_id", F.explode("_qt").alias("term"))
            .filter(F.col("term") != "")
            .groupBy("query_id", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("qtf")))


def _corpus_stats(corpus: DataFrame, text_col: str,
                  max_doc_len: int) -> DataFrame:
    """One-row (n_docs, avg_dl_m) frame over in-contract documents
    (``dl <= max_doc_len`` — excluded here AND in the postings, so
    ``avg_dl_m <= 1000*max_doc_len`` and the downstream integer
    products stay in int64 at any corpus size): avgdl as exact integer
    milli-tokens ``(1000*TT) div N``."""
    corpus = corpus.filter(
        doc_len(F.col(text_col)) <= F.lit(int(max_doc_len)))
    return (corpus.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(doc_len(F.col(text_col))),
                   F.lit(0)).cast("long").alias("_tt"))
        .select("n_docs",
                # empty-corpus arm: ANSI mode turns the div-by-zero into
                # a job abort even though no posting consumes the row
                F.when(F.col("n_docs") == 0, F.lit(0).cast("long"))
                .otherwise(_div(F.lit(1000).cast("long") * F.col("_tt"),
                                F.col("n_docs"))).alias("avg_dl_m")))


def _postings(corpus: DataFrame, terms: DataFrame, id_col: str,
              text_col: str, max_doc_len: int) -> DataFrame:
    """(doc_id, dl, term, tf) for query terms only: row-local explode →
    broadcast semi-gate on the term set → per-(doc, term) count.  The
    shuffle carries matched postings only.  Documents over
    ``max_doc_len`` are excluded (the overflow contract)."""
    toks = corpus.select(
        F.col(id_col).alias("doc_id"),
        doc_len(F.col(text_col)).alias("dl"),
        F.explode(doc_tokens(F.col(text_col))).alias("term"))
    return (toks.filter(F.col("dl") <= F.lit(int(max_doc_len)))
            .filter(F.col("term") != "")
            .join(F.broadcast(terms.select("term").distinct()), "term")
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def bm25_topk(corpus: DataFrame, queries: DataFrame, *, k: int,
              id_col: str = "doc_id", text_col: str = "text",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text",
              k1: tuple = (6, 5), b: tuple = (3, 4),
              max_docs: int = 1 << 32,
              max_query_len: int = 64,
              max_doc_len: int = 1 << 18) -> DataFrame:
    """Integer-exact BM25 top-``k``: ``(query_id, rank, doc_id,
    score_int)``, rank 1..k by (score desc, doc_id asc) — a total
    order, so the result is oracle-comparable.

    ``k1``/``b`` are exact rationals ``(num, den)`` (defaults 6/5 and
    3/4 = the classic 1.2 / 0.75).  See the module docstring for the
    quantized score, the scale shape, and the overflow contract.
    """
    k1n, k1d, bn, bd = _check_params(k1, b, max_docs, max_query_len,
                                     max_doc_len)
    n, adl = F.col("n_docs"), F.col("avg_dl_m")
    idf_int = _idf_expr(F.col("df"), n, max_docs)
    denom = (F.lit(k1d * bd).cast("long") * adl * F.col("tf")
             + F.lit(k1n * (bd - bn)).cast("long") * adl
             + F.lit(k1n * bn * 1000).cast("long") * F.col("dl"))
    tfq = _div(F.lit(TF_SCALE * (k1n + k1d) * bd).cast("long")
               * adl * F.col("tf"), denom)
    qterms = pin(_query_terms(queries, query_id_col, query_text_col,
                              max_query_len), StorageLevel.MEMORY_AND_DISK)
    stats = _corpus_stats(corpus, text_col, max_doc_len)
    post = pin(_postings(corpus, qterms, id_col, text_col, max_doc_len),
               StorageLevel.MEMORY_AND_DISK)
    dfreq = (post.groupBy("term")
             .agg(F.count(F.lit(1)).cast("long").alias("df")))
    scored = (post.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(qterms), "term")
              .crossJoin(F.broadcast(stats))
              .select("query_id", "doc_id",
                      (F.col("qtf") * idf_int * tfq).alias("_s"))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("_s").cast("long").alias("score_int")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score_int"))


def bm25_df_stats(corpus: DataFrame, queries: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  query_id_col: str = "query_id",
                  query_text_col: str = "query_text",
                  k1: tuple = (6, 5), b: tuple = (3, 4),
                  max_docs: int = 1 << 32,
                  max_query_len: int = 64,
                  max_doc_len: int = 1 << 18) -> DataFrame:
    """Audit companion: ``(term, df, idf_int)`` per distinct in-contract
    query term (terms with zero matches are absent — df comes from the
    posting aggregate, same frame the score uses).  Enforces the SAME
    overflow contract as :func:`bm25_topk` (plan-time guard + runtime
    ``max_docs`` arm) — an audit that runs where the main query refuses
    would be misleading."""
    _check_params(k1, b, max_docs, max_query_len, max_doc_len)
    qterms = _query_terms(queries, query_id_col, query_text_col,
                          max_query_len)
    stats = _corpus_stats(corpus, text_col, max_doc_len)
    post = _postings(corpus, qterms, id_col, text_col, max_doc_len)
    n = F.col("n_docs")
    return (post.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .crossJoin(F.broadcast(stats))
            .select("term", "df",
                    _idf_expr(F.col("df"), n, max_docs).alias("idf_int")))


# ----------------------------------------------------------------- #
# DuckDB oracle generators                                           #
# ----------------------------------------------------------------- #

#: shared tokenizer in DuckDB, over column expression ``{c}``
_NORM_SQL = "lower(regexp_replace(trim({c}), '\\s+', ' ', 'g'))"


def _tokens_sql(c: str) -> str:
    return f"string_split({_NORM_SQL.format(c=c)}, ' ')"


def _dl_sql(c: str) -> str:
    n = _NORM_SQL.format(c=c)
    return (f"CASE WHEN {n} IS NULL OR {n} = '' THEN 0 "
            f"ELSE len(string_split({n}, ' ')) END")


def _bm25_ctes(*, queries_sql: str, k1: tuple, b: tuple,
               max_query_len: int, max_doc_len: int,
               id_col: str = "doc_id",
               text_col: str = "text", table: str = "documents") -> str:
    """CTE chain mirroring the engine integer-for-integer: qterms →
    corpus stats (avg_dl_m via ``//`` = the same floor) → matched
    postings → df → quantized score parts."""
    k1n, k1d = k1
    bn, bd = b
    return f"""
        q0 AS ({queries_sql}),
        qterms AS (
          SELECT query_id, term,
                 CAST(count(*) AS BIGINT) AS qtf
          FROM (SELECT query_id, unnest({_tokens_sql('query_text')}) AS term
                FROM q0
                WHERE {_dl_sql('query_text')} BETWEEN 1 AND {max_query_len})
          WHERE term <> ''
          GROUP BY query_id, term),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 (1000 * CAST(coalesce(sum({_dl_sql(text_col)}), 0)
                              AS BIGINT))
                   // greatest(CAST(count(*) AS BIGINT), 1) AS avg_dl_m
          FROM {table}
          WHERE {_dl_sql(text_col)} <= {max_doc_len}),
        post AS (
          SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT {id_col} AS doc_id, {_dl_sql(text_col)} AS dl,
                       unnest({_tokens_sql(text_col)}) AS term
                FROM {table}) p
          WHERE dl <= {max_doc_len}
            AND term <> ''
            AND term IN (SELECT DISTINCT term FROM qterms)
          GROUP BY doc_id, dl, term),
        dfreq AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM post GROUP BY term),
        idf AS (
          SELECT term, df,
                 ({IDF_SCALE} * (2*(s.n_docs - df) + 1)) // (2*df + 1)
                   AS idf_int,
                 s.avg_dl_m AS avg_dl_m
          FROM dfreq, stats s),
        scored AS (
          SELECT q.query_id, p.doc_id,
                 CAST(sum(q.qtf * i.idf_int *
                   (({TF_SCALE * (k1n + k1d) * bd} * i.avg_dl_m * p.tf)
                    // ({k1d * bd} * i.avg_dl_m * p.tf
                        + {k1n * (bd - bn)} * i.avg_dl_m
                        + {k1n * bn * 1000} * p.dl))) AS BIGINT)
                   AS score_int
          FROM post p JOIN idf i ON i.term = p.term
                      JOIN qterms q ON q.term = p.term
          GROUP BY q.query_id, p.doc_id)"""


def bm25_topk_oracle_sql(*, queries_sql: str, k: int,
                         k1: tuple = (6, 5), b: tuple = (3, 4),
                         max_query_len: int = 64,
                         max_doc_len: int = 1 << 18) -> str:
    """DuckDB query reproducing :func:`bm25_topk` bit-for-bit.
    ``queries_sql`` must SELECT (query_id, query_text)."""
    ctes = _bm25_ctes(queries_sql=queries_sql, k1=k1, b=b,
                      max_query_len=max_query_len,
                      max_doc_len=max_doc_len)
    return f"""
        WITH {ctes}
        SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_int
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score_int DESC, doc_id ASC) AS rank
              FROM scored)
        WHERE rank <= {k}
    """


def bm25_df_stats_oracle_sql(*, queries_sql: str,
                             max_query_len: int = 64,
                             max_doc_len: int = 1 << 18) -> str:
    """DuckDB query reproducing :func:`bm25_df_stats` bit-for-bit."""
    ctes = _bm25_ctes(queries_sql=queries_sql, k1=(6, 5), b=(3, 4),
                      max_query_len=max_query_len,
                      max_doc_len=max_doc_len)
    return f"""
        WITH {ctes}
        SELECT term, df, idf_int FROM idf
    """
