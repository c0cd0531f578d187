"""Token-array operators: vocabulary histograms, out-of-vocab audits,
and token-level k-gram duplicate detection over ``array<int>`` columns.

These are the tokens-payload siblings of the text-side cleaning/dedup
family: the input is the input-hint shape ``(doc_id, tokens array<int>,
n_tok, source)`` — already-tokenized training sequences — so every
operator works directly on integer arrays, never re-tokenizing text.

* :func:`token_topk` — corpus token histogram top-k (the vocabulary
  coverage question).  One explode + map-side-combined count, ordered
  take planned as ``TakeOrderedAndProject`` (same shape as
  ``cleaning.vocab_topk``).
* :func:`oov_stats` — out-of-vocabulary / reserved-range audit per
  group.  Row-local ``size(filter(...))`` per document (never an
  explode), then one small aggregation — the cheap pre-flight check
  before committing a vocab size.
* :func:`token_kgram_candidates` — token-level k-gram overlap between
  documents: the integer-sequence analogue of n-gram text dedup (the
  building block of suffix-style duplicate-span detection, cf. Lee et
  al. 2022 "Deduplicating Training Data Makes Language Models Better" —
  k-gram hash collisions approximate duplicated spans).  Per-document
  DISTINCT k-gram hashes are computed row-locally (transform over a
  position sequence + ``array_distinct``), so the exchange carries one
  8-byte hash row per (document, distinct k-gram); candidate pairs come
  from an equi-self-join on the hash with hot k-grams (document
  frequency > ``max_bucket``) dropped via a count-only aggregation and
  a broadcast anti-join — the corpus never shuffles twice and the join
  fan-out is bucket-bounded.  :func:`token_kgram_stats` is the
  no-silent-truncation audit companion.

Hashing uses the md5 family (:func:`..dedup._hash_shingle`) so DuckDB
oracles reproduce results bit-exactly; :func:`synthetic_tokens` builds
deterministic md5-derived token arrays from any id/length frame — the
bridge that lets the driver gates exercise real ``array<int>`` plumbing
against a SQL oracle when the corpus at hand has no tokens column.

Scale notes (100 TB): ``token_topk`` shuffles (token, partial count)
pairs; ``oov_stats`` shuffles one row per group; k-gram candidates
shuffle 8-byte hashes with the same cap discipline as MinHash banding.
The quadratic within a k-gram bucket is bounded by ``max_bucket``
(default 64 → ≤ 2016 pairs per bucket), with dropped-bucket counts
visible in the audit.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._ckpt import StorageLevel, pin
from .dedup import _hash_shingle
from .packing import _div

__all__ = ["synthetic_tokens", "token_topk", "oov_stats",
           "token_kgram_candidates", "token_kgram_stats",
           "token_windows"]

#: salts separating the token-family md5 hashes from every other family
TOKEN_SALT = 11213
KGRAM_SALT = 11503


def synthetic_tokens(df: DataFrame, *, len_col: str = "n_tok",
                     gen_col: str = "doc_id", vocab: int = 997,
                     out_col: str = "tokens") -> DataFrame:
    """Deterministic ``array<int>`` token column: position ``p`` of a
    row with generator value ``g`` is ``md5hash(g || ':' || p) %
    vocab`` — a pure function of (``gen_col``, position), so rows
    sharing a generator value share a token PREFIX (their lengths may
    differ), which gives k-gram overlap structure to test against.
    NULL/negative lengths yield an empty array.

    Stays the expression form deliberately (r7): an Arrow-UDF variant
    was built, pinned bit-identical, and MEASURED SLOWER (the array
    round-trip through Python outweighs the interpreted-HOF md5 cost
    at every partitioning tried) — so the fused path was reverted.
    """
    n = F.coalesce(F.col(len_col).cast("int"), F.lit(0))
    g = F.col(gen_col).cast("string")
    tok = lambda p: (_hash_shingle(
        F.concat(g, F.lit(":"), p.cast("string")), TOKEN_SALT)
        % vocab).cast("int")
    toks = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), n - 1), tok)) \
        .otherwise(F.array().cast("array<int>"))
    return df.withColumn(out_col, toks)


def token_topk(df: DataFrame, k: int, *,
               tokens_col: str = "tokens") -> DataFrame:
    """Top-``k`` corpus tokens by total occurrences: ``(rank, token,
    n)``, ties broken by ascending token id.  NULL arrays contribute
    nothing."""
    from .cleaning import ranked_topk
    agg = (df.select(F.explode(tokens_col).alias("token"))
           .groupBy("token")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
           # cast before ranking (order-preserving on ints) so the
           # shared take emits the gate's bigint token directly
           .select(F.col("token").cast("bigint").alias("token"), "n"))
    return ranked_topk(agg, k)


def oov_stats(df: DataFrame, vocab_size: int, *,
              tokens_col: str = "tokens",
              by: str | None = "source") -> DataFrame:
    """Out-of-vocabulary audit per group (or corpus-wide when ``by`` is
    None): token totals, OOV token counts (id < 0 or >= ``vocab_size``)
    and documents containing any OOV token.  The per-document counting
    is row-local (``size(filter(...))``) — the only exchange carries
    one partial-aggregate row per group."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    toks = F.col(tokens_col)
    n = F.coalesce(F.size(toks), F.lit(0))
    n = F.when(n < 0, 0).otherwise(n)  # size(NULL) is -1 pre-coalesce
    oov = F.coalesce(
        F.size(F.filter(toks, lambda t: (t < 0) | (t >= vocab_size))),
        F.lit(0))
    oov = F.when(oov < 0, 0).otherwise(oov)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(n).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.sum(F.when(oov > 0, 1).otherwise(0)).cast("bigint")
        .alias("docs_with_oov"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def _kgram_hash_at(tokens: Column, p, k: int) -> Column:
    """md5 hash of the k-window starting at 0-based position ``p`` —
    the ONE k-gram hash definition (counting, candidacy, and span
    removal all share it, as do the DuckDB oracles)."""
    return _hash_shingle(
        F.array_join(F.transform(F.slice(tokens, p + 1, k),
                                 lambda t: t.cast("string")), ","),
        KGRAM_SALT)


def _kgram_hashes_expr(tokens: Column, k: int) -> Column:
    """Distinct md5 k-gram hashes as pure Column expressions — the
    reference implementation :func:`_kgram_hashes` is pinned against.
    NOT the production path: the per-position transform nests a second
    transform (slice cast) plus an interpreted md5+hex+conv chain —
    HOFs run outside whole-stage codegen (the word_shingles lesson)."""
    n = F.size(tokens)
    return F.when(n >= k, F.array_distinct(
        F.transform(F.sequence(F.lit(0), n - k),
                    lambda p: _kgram_hash_at(tokens, p, k)))) \
        .otherwise(F.array().cast("array<long>"))


def _kgram_hashes(tokens: Column, k: int) -> Column:
    """Distinct md5 k-gram hashes of an int array, row-local: hash of
    the comma-joined k-window at each position.

    Arrow-batched pandas UDF (r7): bit-identical to
    :func:`_kgram_hashes_expr` (pinned in test_tokens) but one
    vectorized Python pass instead of a nested interpreted HOF per
    position — the same measured exception to built-ins-first as
    ``word_shingles``.  Marked nondeterministic so the optimizer can
    neither clone it under an inferred generate filter nor duplicate
    it below a pushed predicate (guide §4.4)."""
    from pyspark.sql.types import ArrayType, LongType

    salt = f"#{KGRAM_SALT}".encode()

    @F.pandas_udf(ArrayType(LongType()))
    def _kh(col: pd.Series) -> pd.Series:
        import hashlib

        def hs(toks):
            if toks is None or len(toks) < k:
                return []
            out = {}
            for p in range(len(toks) - k + 1):
                # array_join skips NULL elements (no null_replacement),
                # so a NULL token contributes nothing to the joined key
                # (NULLs arrive as NaN through Arrow: t == t filters
                # both None and NaN)
                m = hashlib.md5(
                    ",".join(str(int(t)) for t in toks[p:p + k]
                             if t is not None and t == t).encode())
                m.update(salt)
                out[int.from_bytes(m.digest()[:8], "big") >> 4] = None
            return list(out)
        return col.map(hs)

    return _kh.asNondeterministic()(tokens)


def _kgram_exploded(df: DataFrame, k: int, tokens_col: str,
                    id_col: str) -> DataFrame:
    return (df.select(F.col(id_col).alias("_id"),
                      F.explode(_kgram_hashes(F.col(tokens_col), k))
                      .alias("h")))


def token_kgram_stats(df: DataFrame, k: int, *,
                      tokens_col: str = "tokens",
                      id_col: str = "doc_id",
                      max_bucket: int = 64) -> DataFrame:
    """Audit companion for :func:`token_kgram_candidates`: one row
    ``(n_kgrams, n_hot, max_df)`` — distinct k-gram count, k-grams over
    the ``max_bucket`` cap (these are EXCLUDED from candidacy), and the
    hottest k-gram's document frequency."""
    counts = (_kgram_exploded(df, k, tokens_col, id_col)
              .groupBy("h")
              .agg(F.count(F.lit(1)).cast("bigint").alias("df")))
    return counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kgrams"),
        F.coalesce(F.sum(F.when(F.col("df") > max_bucket, 1)
                         .otherwise(0)), F.lit(0)).cast("bigint")
        .alias("n_hot"),
        F.coalesce(F.max("df"), F.lit(0)).cast("bigint").alias("max_df"))


def token_windows(df: DataFrame, window: int, stride: int, *,
                  tokens_col: str = "tokens",
                  id_col: str = "doc_id") -> DataFrame:
    """Sliding context windows WITHIN each document: ``(doc_id, win_id,
    start_tok, n_tok, win_md5)`` — windows start at 0, ``stride``,
    2·stride, … while the start is inside the document, each taking the
    next ``window`` tokens (the tail windows are shorter; no padding).

    The per-context-window complement of :mod:`.packing` (which
    concatenates documents into fixed chunks): overlap lets a trainer
    keep long-document continuity, and the op is the standard long-doc →
    context-window expansion.  ``win_md5`` is the md5 of the
    comma-joined tokens — byte-exact window CONTENT, not just counts.

    Scale shape: pure row-local generate (``sequence`` + ``slice`` +
    array-cast join — no HOF, no shuffle, no state); output rows ≈
    total_tokens / stride.  ``n_win = ceil(n/stride)`` is exact integer
    arithmetic; NULL/empty token arrays produce no windows.
    """
    if window < 1 or stride < 1:
        raise ValueError(f"window and stride must be >= 1, got "
                         f"window={window}, stride={stride}")
    n = F.coalesce(F.size(F.col(tokens_col)), F.lit(0)).cast("long")
    n_win = _div(n + (stride - 1), stride)
    wins = df.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_t"),
        F.explode(F.when(n_win > 0,
                         F.sequence(F.lit(0).cast("long"), n_win - 1))
                  .otherwise(F.array().cast("array<bigint>")))
        .alias("win_id"))
    start = F.col("win_id") * stride
    piece = F.slice(F.col("_t"), (start + 1).cast("int"), window)
    return wins.select(
        "doc_id", F.col("win_id").cast("bigint").alias("win_id"),
        start.cast("bigint").alias("start_tok"),
        F.size(piece).cast("bigint").alias("n_tok"),
        # array cast, not F.transform: a HOF would knock the md5
        # projection out of whole-stage codegen (CLAUDE.md)
        F.md5(F.array_join(piece.cast("array<string>"), ","))
        .alias("win_md5"))


def remove_hot_kgram_spans(df: DataFrame, k: int, *, min_df: int,
                           tokens_col: str = "tokens",
                           id_col: str = "doc_id",
                           max_hot: int = 10_000) -> DataFrame:
    """Span-level duplicate REMOVAL (the Lee et al. 2022 exact-substring
    dedup move, k-gram-approximated): every token covered by a k-gram
    whose corpus document frequency reaches ``min_df`` is deleted from
    every document.  Returns ``(id_col, n_kept, n_removed, kept_md5)``
    — ``kept_md5`` is the md5 of the comma-joined surviving tokens
    (byte-exact content, not just counts).

    The document-level dedup family drops whole near-duplicate
    documents; this drops the duplicated SPANS themselves — the right
    tool when distinct documents share boilerplate passages (license
    headers, navigation text) that training should not memorize.

    Three-phase, same discipline as ``cleaning.remove_boilerplate``:
    (1) the per-(doc, distinct k-gram) hash frame aggregates document
    frequencies — 8-byte rows; (2) hot hashes return to the driver
    (``max_hot`` guards the broadcast-sized assumption LOUDLY) and
    gate an EXPLODED per-position pass that computes each position's
    hash exactly once (an in-lambda coverage expression would be
    re-evaluated per TOKEN — O(n²·k) md5 calls per document, measured
    10x the whole suite's cost); (3) the per-doc hot-start lists come
    back through a plain left join on ``doc_id`` and the coverage mask
    is a row-local filter: a token at position ``j`` survives iff no
    hot k-gram starts in ``[j-k+1, j]``.

    The hot-start frame is one row per document CONTAINING a hot
    k-gram — bounded by the affected-document count, NOT by
    ``max_hot`` (a license-header k-gram hot in 10^9 documents means
    10^9 rows), and corpus-wide boilerplate is exactly this operator's
    use case.  So the join must NOT be hinted broadcast: it stays a
    plain equi-join and AQE broadcasts only when it measures the frame
    small at runtime (``test_plans_curation`` pins the absence of the
    hint).  That one doc-keyed shuffle is the scale price of span
    removal; everything upstream of it exchanges 8-byte hash rows.

    NULL token arrays are treated as EMPTY: ``n_kept = n_removed = 0``
    and ``kept_md5 = md5('')`` — the same arm the generated oracle
    produces for length-0 synthetic rows, so the contract is uniform
    whether the frame ever had a NULL.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    counts = (_kgram_exploded(df, k, tokens_col, id_col)
              .groupBy("h").agg(F.count(F.lit(1)).alias("_df")))
    hot_rows = (counts.filter(F.col("_df") >= min_df)
                .orderBy(F.col("_df").desc(), F.col("h").asc())
                .limit(max_hot + 1).collect())
    if len(hot_rows) > max_hot:
        raise ValueError(
            f"more than max_hot={max_hot} hot k-grams at "
            f"min_df={min_df}; raise max_hot or min_df "
            f"(see token_kgram_stats)")
    hot = [r.h for r in hot_rows]

    # NULL arrays = empty arrays (uniform kept_md5 = md5('') contract)
    tok_type = df.schema[tokens_col].dataType.simpleString()
    toks = F.coalesce(F.col(tokens_col), F.array().cast(tok_type))
    n = F.size(toks)
    if hot:
        # each position hashed ONCE: explode positions, keep hot ones,
        # list them per doc, join back on the document id.  NO
        # broadcast hint: hot_starts is bounded by the number of
        # AFFECTED documents, not by max_hot (see docstring) — AQE may
        # still broadcast it when it measures small.
        pos = df.select(
            F.col(id_col).alias("_sid"),
            F.explode(F.when(n >= k, F.sequence(F.lit(0), n - k))
                      .otherwise(F.array().cast("array<int>")))
            .alias("_p"),
            toks.alias("_t"))
        hot_starts = (pos.filter(
            _kgram_hash_at(F.col("_t"), F.col("_p"), k).isin(hot))
            .groupBy("_sid")
            .agg(F.collect_list("_p").alias("_starts")))
        base = df.join(hot_starts.withColumnRenamed("_sid", id_col),
                       id_col, "left")
        starts = F.col("_starts")
        kept = F.when(starts.isNull(), toks).otherwise(
            F.filter(toks, lambda t, j: ~F.exists(
                starts, lambda p: (j >= p) & (j <= p + (k - 1)))))
    else:
        base = df
        kept = toks
    kept_n = F.size(kept)
    return base.select(
        F.col(id_col),
        kept_n.cast("bigint").alias("n_kept"),
        (n - kept_n).cast("bigint").alias("n_removed"),
        F.md5(F.array_join(kept.cast("array<string>"), ","))
        .alias("kept_md5"))


def token_kgram_candidates(df: DataFrame, k: int, *,
                           min_shared: int = 2,
                           tokens_col: str = "tokens",
                           id_col: str = "doc_id",
                           max_bucket: int = 64,
                           max_hot: int = 100_000) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` distinct token k-grams:
    ``(id_a, id_b, shared, containment_permille)`` with ``id_a <
    id_b`` and containment = shared / min(|kgrams_a|, |kgrams_b|) as an
    integral permille.

    K-grams appearing in more than ``max_bucket`` documents are dropped
    from candidacy (boilerplate spans; the quadratic bucket join must
    stay bounded): ONE count-only aggregation collects the hot set
    (guarded by ``max_hot`` — a loud ValueError, never an oversized
    broadcast), which comes back as a broadcast anti-join.  The cold
    (document, k-gram hash) frame feeds three consumers (pair join both
    sides + per-doc sizes), so it is pinned spill-safely (released by
    the enclosing ``_ckpt.scope()``, else kept for the session).
    Audit companion: :func:`token_kgram_stats`."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    # persist the exploded (doc, hash) frame BEFORE the hot-set guard:
    # the guard's collect is its own action, so without the persist the
    # k-gram hashing ran twice (guard pass + cold materialization) —
    # one computation now feeds both (r7; a localCheckpoint pin was
    # measured 2x worse here — the pair self-join wants the persisted
    # plan's statistics)
    ex = pin(_kgram_exploded(df, k, tokens_col, id_col),
             StorageLevel.MEMORY_AND_DISK)
    hot_rows = (ex.groupBy("h")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") > max_bucket)
                .select("h").limit(max_hot + 1).collect())
    if len(hot_rows) > max_hot:
        raise ValueError(
            f"more than max_hot={max_hot} k-grams exceed "
            f"max_bucket={max_bucket}; raise the caps or k "
            f"(see token_kgram_stats)")
    cold = ex
    if hot_rows:
        hot = df.sparkSession.createDataFrame(hot_rows, "h long")
        cold = ex.join(F.broadcast(hot), "h", "left_anti")
    cold = pin(cold, StorageLevel.MEMORY_AND_DISK)

    sizes = (cold.groupBy("_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("_nk")))
    a = cold.select(F.col("h"), F.col("_id").alias("id_a"))
    b = cold.select(F.col("h"), F.col("_id").alias("id_b"))
    pairs = (a.join(b, "h")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
             .filter(F.col("shared") >= min_shared))
    na = sizes.select(F.col("_id").alias("id_a"),
                      F.col("_nk").alias("_na"))
    nb = sizes.select(F.col("_id").alias("id_b"),
                      F.col("_nk").alias("_nb"))
    denom = F.least(F.col("_na"), F.col("_nb"))
    shared1000 = F.col("shared") * 1000
    return (pairs.join(na, "id_a").join(nb, "id_b")
            .select("id_a", "id_b", "shared",
                    ((shared1000 - shared1000 % denom) / denom)
                    .cast("bigint").alias("containment_permille")))


# ----------------------------------------------------------------- #
# DuckDB oracle generators                                           #
# ----------------------------------------------------------------- #

#: md5hash(expr) % vocab in DuckDB — the _hash_shingle idiom
_TOK_SQL = ("CAST(concat('0x', substr(md5(concat(CAST({g} AS VARCHAR), "
            "':', CAST(p AS VARCHAR), '#" + str(TOKEN_SALT) + "')), "
            "1, 15)) AS BIGINT) % {vocab}")

#: synthetic tokens over documents: generator g, length = whitespace
#: token count of text (the shared _doc_lens definition).  NULL text
#: coalesces to n=0 like the engine (synthetic_tokens coalesces NULL
#: lengths to an empty array; range(0, NULL) would be NULL here)
_SYNTH_SQL = """
  SELECT doc_id, source,
         CAST(coalesce(
             len(regexp_split_to_array(trim(text), '\\s+')), 0)
           AS BIGINT) AS n,
         {g} AS g
  FROM documents
), tok AS (
  SELECT doc_id, source, n,
         list_transform(range(0, CAST(n AS BIGINT)),
                        p -> {tok_expr}) AS toks
  FROM t
"""


def _synth_cte(gen_sql: str, vocab: int) -> str:
    tok_expr = _TOK_SQL.format(g="g", vocab=vocab)
    return _SYNTH_SQL.format(g=gen_sql, tok_expr=tok_expr)


def token_topk_oracle_sql(k: int, *, gen_sql: str = "doc_id",
                          vocab: int = 997) -> str:
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), e AS (
          SELECT unnest(toks) AS token FROM tok
        ), agg AS (
          SELECT CAST(token AS BIGINT) AS token,
                 CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY token
        )
        SELECT CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                    AS BIGINT) AS rank, token, n
        FROM agg ORDER BY rank LIMIT {k}
    """


def oov_stats_oracle_sql(vocab_size: int, *, gen_sql: str = "doc_id",
                         vocab: int = 997) -> str:
    """OOV audit over the synthetic tokens, grouped by source."""
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), d AS (
          SELECT source, n,
                 len(list_filter(toks,
                     x -> x < 0 OR x >= {vocab_size})) AS oov
          FROM tok
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               CAST(sum(CASE WHEN oov > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS docs_with_oov
        FROM d GROUP BY source
    """


def token_kgram_candidates_oracle_sql(k: int, *, min_shared: int,
                                      gen_sql: str, vocab: int = 997,
                                      max_bucket: int = 64) -> str:
    """Bit-exact reproduction of :func:`token_kgram_candidates` over the
    synthetic tokens (DuckDB list slicing is 1-based inclusive —
    ``toks[p+1 : p+k]`` is the k-window at 0-based position p)."""
    kg = ("CAST(concat('0x', substr(md5(concat(array_to_string("
          f"toks[CAST(p + 1 AS BIGINT):CAST(p + {k} AS BIGINT)], ','), "
          f"'#{KGRAM_SALT}')), 1, 15)) AS BIGINT)")
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), kg AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                     range(0, CAST(n - {k} + 1 AS BIGINT)),
                     p -> {kg})) AS hs
          FROM tok WHERE n >= {k}
        ), e AS (
          SELECT doc_id AS id, unnest(hs) AS h FROM kg
        ), hot AS (
          SELECT h FROM e GROUP BY h HAVING count(*) > {max_bucket}
        ), cold AS (
          SELECT * FROM e WHERE h NOT IN (SELECT h FROM hot)
        ), sizes AS (
          SELECT id, CAST(count(*) AS BIGINT) AS nk
          FROM cold GROUP BY id
        ), pairs AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM cold a JOIN cold b ON a.h = b.h AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING count(*) >= {min_shared}
        )
        SELECT id_a, id_b, shared,
               CAST(shared * 1000 // least(na.nk, nb.nk) AS BIGINT)
                 AS containment_permille
        FROM pairs
        JOIN sizes na ON na.id = pairs.id_a
        JOIN sizes nb ON nb.id = pairs.id_b
    """


def token_windows_oracle_sql(window: int, stride: int, *,
                             gen_sql: str = "doc_id",
                             vocab: int = 997) -> str:
    """Bit-exact reproduction of :func:`token_windows` over the
    synthetic token frame (``list_slice`` is 1-based INCLUSIVE, so
    ``[start+1 : start+window]`` is exactly the ``window``-element
    slice)."""
    s, w = stride, window
    lo = f"CAST(win_id * {s} + 1 AS BIGINT)"
    hi = f"CAST(win_id * {s} + {w} AS BIGINT)"
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), wins AS (
          SELECT doc_id, toks,
                 unnest(range(0,
                   (CAST(len(toks) AS BIGINT) + {s - 1}) // {s}))
                   AS win_id
          FROM tok
        )
        SELECT doc_id, CAST(win_id AS BIGINT) AS win_id,
               CAST(win_id * {s} AS BIGINT) AS start_tok,
               CAST(len(list_slice(toks, {lo}, {hi})) AS BIGINT) AS n_tok,
               md5(array_to_string(list_slice(toks, {lo}, {hi}), ','))
                 AS win_md5
        FROM wins
    """


def remove_hot_kgram_spans_oracle_sql(k: int, *, min_df: int,
                                      gen_sql: str = "doc_id",
                                      vocab: int = 997) -> str:
    """Bit-exact reproduction of :func:`remove_hot_kgram_spans` over
    the synthetic token frame: per-doc DISTINCT k-gram hashes →
    document frequencies → hot set → position anti-join coverage →
    md5 of the surviving comma-joined tokens."""
    kg = ("CAST(concat('0x', substr(md5(concat(array_to_string("
          f"toks[CAST(p + 1 AS BIGINT):CAST(p + {k} AS BIGINT)], ','), "
          f"'#{KGRAM_SALT}')), 1, 15)) AS BIGINT)")
    return f"""
        WITH t AS ({_synth_cte(gen_sql, vocab)}
        ), ph AS (
          SELECT doc_id, p, {kg} AS h
          FROM (SELECT doc_id, toks,
                       unnest(range(0, CAST(greatest(len(toks) - {k} + 1,
                                                     0) AS BIGINT))) AS p
                FROM tok)
        ), dfreq AS (
          SELECT h, count(*) AS df
          FROM (SELECT DISTINCT doc_id, h FROM ph) GROUP BY h
        ), hot AS (
          SELECT h FROM dfreq WHERE df >= {min_df}
        ), starts AS (
          SELECT doc_id, p FROM ph WHERE h IN (SELECT h FROM hot)
        ), jpos AS (
          SELECT doc_id, toks,
                 unnest(range(0, CAST(len(toks) AS BIGINT))) AS j
          FROM tok
        ), kept AS (
          SELECT doc_id, j, toks[CAST(j + 1 AS BIGINT)] AS tk
          FROM jpos
          WHERE NOT EXISTS (SELECT 1 FROM starts s
                            WHERE s.doc_id = jpos.doc_id
                              AND s.p <= j AND j <= s.p + {k - 1})
        ), agg AS (
          SELECT tok.doc_id,
                 coalesce(kc.n_kept, 0) AS n_kept,
                 md5(coalesce(kc.joined, '')) AS kept_md5,
                 CAST(len(toks) AS BIGINT) AS n
          FROM tok LEFT JOIN (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   array_to_string(list(tk ORDER BY j), ',') AS joined
            FROM kept GROUP BY doc_id) kc ON kc.doc_id = tok.doc_id
        )
        SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept,
               CAST(n - n_kept AS BIGINT) AS n_removed, kept_md5
        FROM agg
    """
