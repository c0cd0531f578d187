"""Deduplication operators for training-data pipelines.

boon has no cross-document operators (SURVEY.md §2.9); these are the
Spark-native pipeline extensions the build brief mandates.  All hashing is
deterministic (md5/xxhash64 of content + integer salts) — no RNG state, so
results are reproducible at any parallelism and re-expressible in the
DuckDB oracle.

Scale notes per operator:

* ``exact_duplicates`` — one hash shuffle on a 16-byte digest (map-side
  partial counts); never shuffles document text.
* ``minhash_lsh_pairs`` — the classic shingle → minhash → band → bucket
  join.  Only ``(_id, band, key)`` triples shuffle through the band
  exchange (never shingle arrays or text — pinned by
  ``test_plans.test_minhash_band_exchange_carries_no_shingles``); the
  surviving candidate-pair set (orders of magnitude smaller than the
  corpus) is re-joined against an ``(_id, shingles)`` projection for the
  exact-Jaccard verify.  Bucket sizes are capped (``max_bucket``) so a
  degenerate band (e.g. empty docs) cannot quadratically explode a
  reducer; over-cap buckets are DROPPED (recall loss, not a correctness
  loss) — audit the loss with :func:`minhash_lsh_bucket_stats`.
* ``simhash64`` — Arrow-batched pandas UDF (numpy bit-bucketing);
  near-dup join uses the pigeonhole principle: fingerprints within
  hamming distance d share at least one of d+1 chunks, so candidates come
  from d+1 equi-joins on 16-bit chunks, never a cross join.
* ``embedding_near_dups_quantized`` — integer random-hyperplane
  buckets (deterministic planes) + within-bucket squared-cosine verify,
  all int64; an equi-join on the signature replaces the cross product.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._ckpt import StorageLevel, pin
from .similarity import _idot

# ---------------------------------------------------------------------------
# shingling + exact
# ---------------------------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Lowercase, space-trimmed, ``\\s+``-collapsed text — the one
    normalization every shingle/metric consumer and every DuckDB oracle
    shares.  Oracle contract note: Java's ``\\s`` includes ``\\x0B``
    (vertical tab) while DuckDB/RE2's does not — measured, and the one
    character the dialects disagree on.  The oracles are exact over
    text without ``\\x0B``; the synthetic corpus contains none."""
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def word_shingles_expr(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as pure Column expressions — the
    reference implementation :func:`word_shingles` is pinned against.

    NOT the production path: the per-position ``transform`` lambda is a
    higher-order function, which knocks the projection out of whole-stage
    codegen, and its interpreted slice+concat body costs ~15µs per
    shingle (measured r5: 3.5s for a 240k-shingle table that the Arrow
    path shingles in 0.39s — 9x).

    NULL text shingles to NULL (dropped by every consumer's
    ``size(_sh) > 0`` filter, like the DuckDB oracles) — without the
    explicit guard, ``greatest(NULL, 0) = 0`` and ``concat_ws``
    swallowing NULL would turn a missing document into ``[""]``, which
    collides with every empty document."""
    words = F.split(normalized_text(col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(
        " ", F.slice(words, i + 1, n)))
    return F.when(col.isNotNull(), F.array_distinct(sh))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    Normalization (lowercase, trim, ``\\s+`` collapse) stays JVM-side so
    the regex semantics match the DuckDB oracles exactly; the
    per-position shingle assembly runs as an **Arrow-batched pandas UDF**
    over the already-normalized text.  This is a measured exception to
    the built-ins-first rule: the expression formulation is a
    higher-order function, so the projection runs INTERPRETED (no
    whole-stage codegen) at ~15µs/shingle, while the vectorized Python
    path is 9x faster on identical output
    (test_dedup::test_word_shingles_matches_expression pins bit-equality,
    including empty/whitespace/short-text edges)."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _shingle(norm: pd.Series) -> pd.Series:
        def sh(s):
            if s is None:
                return None
            w = s.split(" ")
            if len(w) <= n:
                # matches the expression path: sequence(0, max(size-n, 0))
                # yields one whole-text shingle for short docs
                return [" ".join(w)]
            return list(dict.fromkeys(
                " ".join(w[i:i + n]) for i in range(len(w) - n + 1)))
        return norm.map(sh)

    # asNondeterministic: consumers filter on size(shingles) > 0, and
    # the optimizer pushes that filter BELOW the projection by cloning
    # the UDF — two ArrowEvalPython nodes, every row shingled twice
    # (optimization guide §4.4; measured in the r7 plan audit).  The
    # marker forbids the duplication; the function is semantically
    # deterministic, so results are unchanged.
    return _shingle.asNondeterministic()(normalized_text(col))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_examples: int = 20) -> DataFrame:
    """Exact-content duplicate groups: (content_hash, n_docs, keep_id,
    doc_ids).  Normalization: whitespace-collapsed lowercase.

    Bounded accumulation: counts and the example-id list come from window
    functions over one hash exchange, and only the first
    ``max_examples`` rows per key reach the ``collect_list`` buffer — a
    pathological hot key (the empty document, at web scale) sorts and
    spills instead of holding millions of ids in one reducer's
    aggregation buffer.  The groupBy reuses the window's partitioning, so
    this is still a single shuffle."""
    from pyspark.sql.window import Window

    h = F.md5(normalized_text(F.col(text_col)))
    w = Window.partitionBy("content_hash")
    wo = w.orderBy("_id")
    # NULL text hashes to NULL and the window would group every
    # missing-text row into one bogus "duplicate" group — missing text
    # is schema validation's finding, not a duplicate
    ranked = (df.filter(F.col(text_col).isNotNull())
              .select(h.alias("content_hash"), F.col(id_col).alias("_id"))
              .withColumn("n_docs", F.count(F.lit(1)).over(w))
              .withColumn("keep_id", F.min("_id").over(w))
              .withColumn("_rn", F.row_number().over(wo))
              .filter((F.col("n_docs") > 1) & (F.col("_rn") <= max_examples)))
    return (ranked.groupBy("content_hash")
            .agg(F.first("n_docs").alias("n_docs"),
                 F.first("keep_id").alias("keep_id"),
                 F.sort_array(F.collect_list("_id")).alias("doc_ids")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _hash_shingle(shingle: Column, salt: int) -> Column:
    """Deterministic 60-bit hash of a shingle string for hash family
    member ``salt`` — md5-based so the DuckDB oracle can reproduce it."""
    return F.conv(F.substring(
        F.md5(F.concat(shingle, F.lit(f"#{salt}"))), 1, 15), 16, 10) \
        .cast("long")


def _hash_shingle_fast(shingle: Column, salt: int) -> Column:
    """xxhash64 variant — ~5x cheaper per shingle (one JVM hash vs
    md5+hex+conv); the production default.  Not reproducible outside
    Spark, so the oracle-paired queries use the md5 family."""
    return F.xxhash64(shingle, F.lit(salt))


def _min_hasher(salt: int, fast: bool):
    # NOTE: a `lambda s, _salt=salt:` default-arg closure would break
    # here — pyspark treats a two-parameter lambda as (element, index)
    # and binds the index Column to the second arg
    fn = _hash_shingle_fast if fast else _hash_shingle
    return lambda s: fn(s, salt)


def minhash_signature(shingles: Column, num_hashes: int = 16, *,
                      hash_family: str = "md5") -> Column:
    """array<long> of per-hash minima over the shingle set.
    ``hash_family``: 'md5' (oracle-reproducible) or 'xxhash64' (fast)."""
    fast = hash_family == "xxhash64"
    sigs = [F.array_min(F.transform(shingles, _min_hasher(h, fast)))
            for h in range(num_hashes)]
    return F.array(*sigs)


def _shingles_and_minhash(col: Column, n: int, num_hashes: int) -> Column:
    """Fused shingle + md5-minhash signature as ONE Arrow-batched pandas
    UDF: ``struct<sh: array<string>, sig: array<long>>`` — bit-identical
    to ``word_shingles`` + ``minhash_signature(hash_family='md5')``
    (pinned in test_dedup), but one Python pass instead of a Python
    shingle pass plus ``num_hashes`` INTERPRETED JVM ``transform``s
    (HOFs knock the projection out of whole-stage codegen, and each
    element pays an interpreted md5+hex+conv chain — guide §4.2: hand
    whole batches to native code).  The md5 state of each shingle is
    computed once and ``.copy()``-extended per salt, so the per-shingle
    cost is one hash plus ``num_hashes`` cheap finalizations.

    md5-family only: the xxhash64 production family stays JVM-side
    (Python cannot reproduce Spark's xxhash64 seeding bit-for-bit).
    NULL text yields a NULL struct (filtered by every consumer)."""
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    salts = [f"#{h}".encode() for h in range(num_hashes)]
    ret = StructType([StructField("sh", ArrayType(StringType())),
                      StructField("sig", ArrayType(LongType()))])

    @F.pandas_udf(ret)
    def _sh_sig(norm: pd.Series) -> pd.DataFrame:
        import hashlib

        shs, sigs = [], []
        for s in norm:
            if s is None:
                shs.append(None)
                sigs.append(None)
                continue
            w = s.split(" ")
            if len(w) <= n:
                sh = [" ".join(w)]
            else:
                sh = list(dict.fromkeys(
                    " ".join(w[i:i + n]) for i in range(len(w) - n + 1)))
            shs.append(sh)
            mins = [None] * num_hashes
            for g in sh:
                base = hashlib.md5(g.encode())
                for j, salt in enumerate(salts):
                    m = base.copy()
                    m.update(salt)
                    v = int.from_bytes(m.digest()[:8], "big") >> 4
                    if mins[j] is None or v < mins[j]:
                        mins[j] = v
            sigs.append(mins)
        return pd.DataFrame({"sh": shs, "sig": sigs})

    # asNondeterministic: same §4.4 duplication guard as word_shingles
    # — the consumer's size(sh) > 0 filter must not clone the UDF
    return _sh_sig.asNondeterministic()(normalized_text(col))


def _shingle_base(df: DataFrame, *, text_col: str, id_col: str,
                  shingle_n: int, passthrough: tuple = ()) -> DataFrame:
    """The ``(_id, _sh, *passthrough)`` shingle projection shared by
    every shingle consumer (banding, collision index, streaming) — one
    implementation so no two paths can shingle differently."""
    return (df.select(F.col(id_col).alias("_id"),
                      word_shingles(F.col(text_col),
                                    shingle_n).alias("_sh"),
                      *[F.col(c) for c in passthrough])
            .filter(F.size("_sh") > 0))


def _minhash_banded(df: DataFrame, *, text_col: str, id_col: str,
                    num_hashes: int, bands: int, shingle_n: int,
                    hash_family: str,
                    passthrough: tuple = ()) -> tuple[DataFrame, DataFrame]:
    """Shared shingle → signature → band-key pipeline: returns
    ``(sig, banded)`` where sig = (_id, _sh, _sig) and banded =
    (_id, band, key, *passthrough).  ONE implementation feeds the capped
    pair join, its recall-loss audit, AND the streaming collision
    detector, so none of them can band differently (a drifted copy would
    make the audit count buckets the join never formed).
    ``passthrough`` columns (e.g. an event-time ts) ride along the
    banded rows untouched."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    if hash_family == "md5":
        # fused Python pass (see _shingles_and_minhash): same shingles,
        # same 60-bit minima, one Arrow boundary instead of Python
        # shingles + num_hashes interpreted JVM HOF transforms
        ss = _shingles_and_minhash(F.col(text_col), shingle_n,
                                   num_hashes)
        sig = (df.select(F.col(id_col).alias("_id"),
                         *[F.col(c) for c in passthrough],
                         ss.alias("_ss"))
               .select("_id", F.col("_ss.sh").alias("_sh"),
                       F.col("_ss.sig").alias("_sig"), *passthrough)
               .filter(F.size("_sh") > 0))
    else:
        base = _shingle_base(df, text_col=text_col, id_col=id_col,
                             shingle_n=shingle_n,
                             passthrough=passthrough)
        sig = base.select(
            "_id", "_sh", *passthrough,
            minhash_signature(F.col("_sh"), num_hashes,
                              hash_family=hash_family).alias("_sig"))

    # band keys: hash of each signature slice → (band_id, key) rows.
    # key hashing follows hash_family so md5 runs are oracle-reproducible
    def band_key(b: int):
        joined = F.concat_ws(
            ",", *[F.element_at("_sig", b * rows_per_band + r + 1)
                   .cast("string") for r in range(rows_per_band)])
        if hash_family == "md5":
            return F.conv(F.substring(F.md5(joined), 1, 15), 16, 10) \
                .cast("long")
        return F.xxhash64(joined)

    band_cols = [F.struct(
        F.lit(b).alias("band"),
        band_key(b).alias("key")) for b in range(bands)]
    # the band exchange carries ONLY (_id, band, key) — shuffling the
    # shingle arrays here would duplicate the corpus text bands× through
    # the shuffle (the round-1 scale bug); shingles are re-joined by the
    # caller for the (tiny) surviving candidate-pair set instead
    banded = sig.select("_id", *passthrough,
                        F.explode(F.array(*band_cols)).alias("bk")) \
        .select("_id", "bk.band", "bk.key", *passthrough)
    return sig, banded


def minhash_lsh_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      jaccard_threshold: float = 0.5,
                      max_bucket: int = 64,
                      hash_family: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    shingle Jaccard.  Returns (id_a, id_b, jaccard) with id_a < id_b."""
    sig, banded = _minhash_banded(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, hash_family=hash_family)
    # persist: sig feeds the banding AND both sides of the exact-Jaccard
    # verify join — three consumers across broadcast boundaries, where
    # NO ReusedExchange forms (the measured r5 law), so without persist
    # the corpus is re-shingled/re-signed once per consumer (measured
    # r7: 3 ArrowEvalPython passes per action, ~2/3 of the pair
    # pipeline's cost).  Spill-safe.
    sig = pin(sig, StorageLevel.MEMORY_AND_DISK)

    # bucket join: candidates are pairs sharing any band bucket.  Cap
    # bucket size to bound the quadratic pair expansion per reducer
    # (over-cap buckets are dropped; count them with
    # minhash_lsh_bucket_stats).
    buckets = (banded.groupBy("band", "key")
               .agg(F.collect_list("_id").alias("members"))
               .filter(F.size("members").between(2, max_bucket)))
    cand = (buckets
            .select(F.explode(F.expr(
                "filter(flatten(transform(members, a -> "
                "transform(members, b -> struct(a, b)))), "
                "p -> p.a < p.b)")).alias("p"))
            .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # exact-Jaccard verify: join the candidate pairs back to the shingle
    # projection.  The pair set is ≪ corpus, so AQE broadcasts it (or a
    # shuffled join moves only candidate rows) — either way the full
    # corpus text crosses the wire at most once, not bands× over.
    sh = sig.select("_id", "_sh")
    pairs = (cand
             .join(sh.select(F.col("_id").alias("id_a"),
                             F.col("_sh").alias("sh_a")), on="id_a")
             .join(sh.select(F.col("_id").alias("id_b"),
                             F.col("_sh").alias("sh_b")), on="id_b"))
    jac = (F.size(F.array_intersect("sh_a", "sh_b")) /
           F.size(F.array_union("sh_a", "sh_b")))
    return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= jaccard_threshold))


def minhash_lsh_bucket_stats(df: DataFrame, *, text_col: str = "text",
                             id_col: str = "doc_id", num_hashes: int = 16,
                             bands: int = 4, shingle_n: int = 3,
                             max_bucket: int = 64,
                             hash_family: str = "xxhash64") -> DataFrame:
    """Audit the recall loss of :func:`minhash_lsh_pairs`' bucket cap:
    one row with (n_buckets, n_candidate_buckets, n_dropped_buckets,
    n_dropped_docs, largest_bucket) for the same banding parameters —
    the no-silent-truncation companion to the capped pair join (shares
    ``_minhash_banded``, so the audited buckets ARE the join's buckets)."""
    _sig, banded = _minhash_banded(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, hash_family=hash_family)
    sizes = (banded.groupBy("band", "key")
             .agg(F.count(F.lit(1)).alias("n")))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(F.col("n").between(2, max_bucket).cast("long")),
                   F.lit(0)).alias("n_candidate_buckets"),
        F.coalesce(F.sum((F.col("n") > max_bucket).cast("long")),
                   F.lit(0)).alias("n_dropped_buckets"),
        F.coalesce(F.sum(F.when(F.col("n") > max_bucket, F.col("n"))),
                   F.lit(0)).alias("n_dropped_docs"),
        F.max("n").alias("largest_bucket"))


def cross_table_contamination(corpus: DataFrame, benchmark: DataFrame, *,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              num_hashes: int = 16, bands: int = 4,
                              shingle_n: int = 3,
                              threshold: float = 0.5,
                              metric: str = "containment",
                              max_bucket: int = 64,
                              max_df: int = 10_000,
                              max_hot: int = 10_000,
                              min_shared: int = 1,
                              hash_family: str = "xxhash64") -> DataFrame:
    """Train/benchmark decontamination: documents of ``corpus`` whose
    n-gram overlap with any ``benchmark`` document reaches ``threshold``
    — the standard pre-training hygiene check (a training document that
    contains an eval item inflates benchmark scores).

    Two candidate-generation strategies, because the right one depends
    on the metric:

    - ``metric="containment"`` (the decontamination default):
      ``|A∩B| / |B|`` with B the BENCHMARK side.  Candidates come from
      an **n-gram collision index** (the published decontamination
      recipe): benchmark shingle hashes — a small table by contract —
      are broadcast and joined against the corpus' exploded shingle
      hashes.  MinHash-LSH would be WRONG here: a 10k-token training
      doc that embeds a whole 100-token eval item has Jaccard ~0.01, so
      no band ever collides, while its containment is 1.0.  Skew guard:
      shingles whose corpus document-frequency exceeds ``max_df``
      (boilerplate) are dropped from the index via a count-only agg
      whose hot rows come back to the driver (more than ``max_hot``
      of them raises LOUDLY — the hot set must stay driver-sized) and
      apply as row-local IN-set filters; ``min_shared`` requires that
      many distinct shared shingles before the exact verify.
    - ``metric="jaccard"``: symmetric near-duplicate semantics —
      MinHash banding per TABLE (same pipeline as
      :func:`minhash_lsh_pairs`; the band exchange carries only
      ``(_id, band, key)``), candidates are cross-table bucket
      collisions, corpus-side buckets capped at ``max_bucket``.

    Both paths verify candidates with the exact shingle overlap (the
    candidate pair set ≪ corpus, AQE broadcasts it).

    Resolution limit: a benchmark doc SHORTER than ``shingle_n`` words
    yields one clamped whole-text shingle, which only collides with
    near-identical short corpus docs — an eval item embedded verbatim
    inside a longer training doc is invisible below the n-gram size.
    Run short eval items with a smaller ``shingle_n`` (published
    decontamination recipes pick n ≤ the shortest meaningful item).

    Returns ``(corpus_id, benchmark_id, overlap)`` rows ≥ threshold.
    """
    if metric not in ("containment", "jaccard"):
        raise ValueError(f"metric must be containment|jaccard, "
                         f"got {metric!r}")
    fast = hash_family == "xxhash64"

    if metric == "containment":
        # persist both shingle bases: the corpus side is consumed by
        # the hot-set guard collect, the candidate join, AND the exact
        # verify (three actions/broadcast-boundary consumers — the r5
        # no-ReusedExchange law means each would otherwise re-run the
        # shingle UDF over the full corpus); the benchmark side by the
        # token index, the size frame, and the verify.  Spill-safe.
        sh_c = pin(_shingle_base(corpus, text_col=text_col,
                                 id_col=id_col, shingle_n=shingle_n),
                   StorageLevel.MEMORY_AND_DISK)
        sh_b = pin(_shingle_base(benchmark, text_col=text_col,
                                 id_col=id_col, shingle_n=shingle_n),
                   StorageLevel.MEMORY_AND_DISK)
        hasher = _min_hasher(0, fast)

        def tokens(sh, out_id):
            return (sh.select(F.col("_id").alias(out_id),
                              F.explode("_sh").alias("_s"))
                    .select(out_id, hasher(F.col("_s")).alias("_h")))

        tok_c = tokens(sh_c, "corpus_id")
        tok_b = tokens(sh_b, "benchmark_id")
        # shingles are distinct within a document (word_shingles), so
        # the count per hash IS the corpus document frequency.  Hot
        # hashes come back to the driver with the same loud max_hot
        # guard as cleaning.remove_boilerplate — one row per hot
        # shingle, broadcast-sized only because the guard PROVES it
        # (never a silent oversized broadcast) — and gate both sides
        # as row-local IN-set filters (no joins at all).
        hot_rows = (tok_c.groupBy("_h").agg(F.count(F.lit(1)).alias("_n"))
                    .filter(F.col("_n") > max_df)
                    .limit(max_hot + 1).collect())
        if len(hot_rows) > max_hot:
            raise ValueError(
                f"more than max_hot={max_hot} shingle hashes exceed "
                f"max_df={max_df}; raise max_df or max_hot (the hot "
                f"set must stay driver/broadcast-sized)")
        hot = [r._h for r in hot_rows]
        if hot:
            tok_c = tok_c.filter(~F.col("_h").isin(hot))
        # SOUND threshold prune (r5): the final filter keeps a pair iff
        # inter/|B| >= t (IEEE double compare), and the non-hot
        # hash-collision count is >= inter − |{s∈B : h(s) hot}|, i.e.
        # inter <= shared + hot_B.  IEEE division by a fixed positive
        # divisor is monotone in the numerator, so inter/|B| >= t
        # implies (shared + hot_B)/|B| >= t — the prune below uses THAT
        # comparison, in the exact arithmetic of the final filter.
        # (An integer form like shared >= ceil(t·|B| − hot_B) is NOT
        # sound: at t=0.28, |B|=25, inter=7 the final filter passes —
        # 7/25 rounds to the same double as the 0.28 literal — but
        # ceil(double(0.28)·25) = ceil(7.000000000000001) = 8.)
        # Pure candidate reduction — zero recall loss (the gate oracle
        # is unchanged), unlike the max_df gate whose loss is the
        # documented tradeoff.  On vocab-limited text this is the
        # difference between verifying every corpus×benchmark pair
        # sharing ONE 3-gram (202k pairs at sf0.1) and ~the true hits.
        b_sizes = sh_b.select(F.col("_id").alias("benchmark_id"),
                              F.size("_sh").alias("_nb"))
        if hot:
            b_meta = (b_sizes
                      .join(tok_b.filter(F.col("_h").isin(hot))
                            .groupBy("benchmark_id")
                            .agg(F.count(F.lit(1)).alias("_hot_b")),
                            on="benchmark_id", how="left")
                      .fillna(0, ["_hot_b"]))
        else:
            b_meta = b_sizes.withColumn("_hot_b", F.lit(0))
        cand = (tok_c.join(F.broadcast(tok_b), on="_h")
                .groupBy("corpus_id", "benchmark_id")
                .agg(F.count(F.lit(1)).alias("_shared"))
                .join(F.broadcast(b_meta), on="benchmark_id")
                .filter((F.col("_shared") >= min_shared) &
                        ((F.col("_shared") + F.col("_hot_b"))
                         / F.col("_nb") >= F.lit(threshold)))
                .select("corpus_id", "benchmark_id"))
        sig_c, sig_b = sh_c, sh_b
    else:
        sig_c, band_c = _minhash_banded(
            corpus, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            hash_family=hash_family)
        sig_b, band_b = _minhash_banded(
            benchmark, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            hash_family=hash_family)
        # cap the CORPUS side per bucket (count-only agg; the benchmark
        # side is small by contract) before the cross-table bucket join
        csize = (band_c.groupBy("band", "key")
                 .agg(F.count(F.lit(1)).alias("_n"))
                 .filter(F.col("_n") <= max_bucket).select("band", "key"))
        band_c = band_c.join(csize, on=["band", "key"])
        cand = (band_c.select(F.col("_id").alias("corpus_id"),
                              "band", "key")
                .join(band_b.select(F.col("_id").alias("benchmark_id"),
                                    "band", "key"),
                      on=["band", "key"])
                .select("corpus_id", "benchmark_id")
                .dropDuplicates(["corpus_id", "benchmark_id"]))

    pairs = (cand
             .join(sig_c.select(F.col("_id").alias("corpus_id"),
                                F.col("_sh").alias("sh_c")),
                   on="corpus_id")
             .join(sig_b.select(F.col("_id").alias("benchmark_id"),
                                F.col("_sh").alias("sh_b")),
                   on="benchmark_id"))
    inter = F.size(F.array_intersect("sh_c", "sh_b"))
    if metric == "containment":
        overlap = inter / F.size("sh_b")
    else:
        overlap = inter / (F.size("sh_c") + F.size("sh_b") - inter)
    return (pairs.select("corpus_id", "benchmark_id",
                         overlap.alias("overlap"))
            .filter(F.col("overlap") >= threshold))


def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", group_col: str,
                        shingle_n: int = 3,
                        threshold: float = 0.5,
                        max_block: Optional[int] = None) -> DataFrame:
    """Exact n-gram Jaccard over all pairs *within a grouping column*
    (blocking key, e.g. (source, lang)) — the quadratic stays inside
    blocks.  Returns (id_a, id_b, jaccard).

    The within-block join is inherently O(block²): a 1M-doc block is
    5·10¹¹ pairs on one key.  At scale, EITHER choose a blocking key
    whose blocks are provably small, OR set ``max_block`` — blocks
    larger than the cap are dropped (recall loss, never a hang), and
    :func:`block_size_stats` counts exactly what was dropped."""
    base = df.select(F.col(group_col).alias("_g"),
                     F.col(id_col).alias("_id"),
                     word_shingles(F.col(text_col), shingle_n).alias("_sh"))
    if max_block is not None:
        sizes = (base.groupBy("_g")
                 .agg(F.count(F.lit(1)).alias("_bn"))
                 .filter(F.col("_bn") <= max_block)
                 .drop("_bn"))
        base = base.join(sizes, on="_g")
    a = base.select(F.col("_g"), F.col("_id").alias("id_a"),
                    F.col("_sh").alias("sh_a"))
    b = base.select(F.col("_g"), F.col("_id").alias("id_b"),
                    F.col("_sh").alias("sh_b"))
    joined = a.join(b, on="_g").filter(F.col("id_a") < F.col("id_b"))
    jac = (F.size(F.array_intersect("sh_a", "sh_b")) /
           F.size(F.array_union("sh_a", "sh_b")))
    return (joined.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def block_size_stats(df: DataFrame, *, group_col: str,
                     max_block: int) -> DataFrame:
    """Dropped-block audit for :func:`ngram_jaccard_pairs`: one row with
    (n_blocks, n_dropped_blocks, n_dropped_docs, largest_block)."""
    sizes = df.groupBy(F.col(group_col).alias("_g")) \
        .agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((F.col("n") > max_block).cast("long"))
        .alias("n_dropped_blocks"),
        F.coalesce(F.sum(F.when(F.col("n") > max_block, F.col("n"))),
                   F.lit(0)).alias("n_dropped_docs"),
        F.max("n").alias("largest_block"))


# ---------------------------------------------------------------------------
# SimHash (text)
# ---------------------------------------------------------------------------

def simhash64(text: Column, shingle_n: int = 3) -> Column:
    """64-bit SimHash fingerprint via an Arrow-batched pandas UDF.

    Deterministic: shingle → md5 → 64 bits; per-bit ±1 majority vote.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(batch: pd.Series) -> pd.Series:
        import hashlib
        import re

        import numpy as np

        def fp(s):
            if s is None:
                return None
            # the SHARED normalization (normalized_text semantics):
            # space-only strip + ASCII \s collapse — Python's bare
            # .split() strips Unicode whitespace (\xa0, \x85) and
            # leading tabs differently from the JVM/oracle definition
            # every other text operator uses (r5 review)
            words = re.sub(r"\s+", " ", s.strip(" "),
                           flags=re.ASCII).lower().split(" ")
            if not words:
                return 0
            n = max(len(words) - shingle_n + 1, 1)
            counts = np.zeros(64, dtype=np.int64)
            for i in range(n):
                sh = " ".join(words[i:i + shingle_n])
                h = int.from_bytes(
                    hashlib.md5(sh.encode()).digest()[:8], "big")
                bits = np.unpackbits(
                    np.frombuffer(h.to_bytes(8, "big"), dtype=np.uint8))
                counts += bits.astype(np.int64) * 2 - 1
            v = np.packbits((counts >= 0).astype(np.uint8))
            out = int.from_bytes(v.tobytes(), "big")
            return out - (1 << 64) if out >= (1 << 63) else out

        return batch.map(fp)

    # asNondeterministic: simhash_near_dups filters the fingerprint for
    # NULL — without the marker that filter is pushed below by cloning
    # the UDF (guide §4.4), hashing every document twice
    return _simhash.asNondeterministic()(text)


def simhash_near_dups(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3,
                      shingle_n: int = 3,
                      max_bucket: int = 4096) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole blocking: split the 64-bit fingerprint into
    ``max_hamming+1`` chunks; any pair within distance d agrees on ≥1
    chunk → candidates from d+1 equi-joins, verified exactly with
    bit_count(xor).

    ``max_bucket`` bounds the per-chunk quadratic: a degenerate corpus
    (e.g. millions of EXACT duplicates, which all share every chunk)
    would otherwise square inside one join key.  Over-cap chunk buckets
    are dropped — exact duplicates are ``exact_duplicates``' job, and
    the other d chunks still catch genuine near-dups whose hot chunk
    overflowed."""
    chunks = max_hamming + 1
    width = 64 // chunks
    fp = df.select(F.col(id_col).alias("_id"),
                   simhash64(F.col(text_col), shingle_n).alias("_fp"))
    fp = pin(fp.filter(F.col("_fp").isNotNull()),
             StorageLevel.MEMORY_AND_DISK_DESER)

    def chunk(col: Column, i: int) -> Column:
        if width >= 64:  # max_hamming=0: the single chunk IS the fp
            return col
        return F.shiftrightunsigned(col, i * width) % F.lit(1 << width)

    cands = None
    for i in range(chunks):
        keyed = fp.select("_id", "_fp", chunk(F.col("_fp"), i).alias("_ck"))
        sizes = (keyed.groupBy("_ck")
                 .agg(F.count(F.lit(1)).alias("_bn"))
                 .filter(F.col("_bn").between(2, max_bucket))
                 .drop("_bn"))
        capped = keyed.join(sizes, on="_ck")
        a = capped.select(F.col("_id").alias("id_a"),
                          F.col("_fp").alias("fp_a"), "_ck")
        b = capped.select(F.col("_id").alias("id_b"),
                          F.col("_fp").alias("fp_b"), "_ck")
        c = a.join(b, on="_ck").filter(F.col("id_a") < F.col("id_b")) \
            .select("id_a", "id_b", "fp_a", "fp_b")
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (cands.select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def quantized_planes(dim: int, bits: int, seed: int,
                     q_bits: int = 10) -> list[list[int]]:
    """Integer-quantized hyperplanes: ``floor(p · 2^q_bits)`` of the
    deterministic float planes — identical constants on the driver, in
    every executor, and in the DuckDB oracle SQL."""
    import math

    from .similarity import _hyperplane
    return [[int(math.floor(p * (1 << q_bits))) for p in _hyperplane(dim, b, seed)]
            for b in range(bits)]


def embedding_near_dups_quantized(df: DataFrame, *,
                                  vec_col: str = "embedding",
                                  id_col: str = "vec_id", dim: int,
                                  threshold_num: int = 2,
                                  threshold_den: int = 5,
                                  bits: int = 4, seed: int = 42,
                                  q_bits: int = 10,
                                  max_bucket: int = 64) -> DataFrame:
    """Embedding near-duplicate pairs ``(id_a, id_b)`` with cosine ≥
    ``threshold_num/threshold_den`` — every step is int64 arithmetic, so
    the result is bit-identical across engines (float hyperplane
    projections risk sign-flips near zero, and float cosines flip at the
    threshold boundary) and pairs with its DuckDB oracle.

    Pipeline: quantize each coordinate to ``floor(x·2^q_bits)``
    (multiplication by a power of two is EXACT in binary floating point,
    so the quantization itself is engine-independent); signature bits are
    signs of integer dot products with integer-quantized hyperplanes;
    candidate pairs share a signature bucket (capped at ``max_bucket``);
    the verify is the squared-cosine inequality
    ``dot>0 AND den²·dot² ≥ num²·‖a‖²·‖b‖²`` — cosine ≥ num/den without
    ever dividing or square-rooting.  Clean rows, quantization,
    signatures and norms come from the one kernel the quantized LSH
    shares (``similarity._quantized_sig_frame``, no ``coord_bound``):
    ragged and NULL-element rows are excluded, zero vectors are kept,
    and a NaN/Inf coordinate or a batch whose int64 projections or
    norms could overflow raises ``ValueError`` there.  The verify's
    ``den²·dot²`` is JVM long arithmetic: |x|≤1, dim≤128, q_bits≤10 keep
    it under 2^63 for den ≤ 5, and past that ANSI mode (Spark 4's
    default) fails the job instead of wrapping.

    The threshold must satisfy ``threshold_den ≥ 1`` and ``0 ≤
    threshold_num ≤ threshold_den``, else ``ValueError``: past 1 the
    verify is always false (Cauchy–Schwarz), ``0/0`` would pass every
    positive dot, and a negative numerator is squared away."""
    if not (threshold_den >= 1 and 0 <= threshold_num <= threshold_den):
        raise ValueError(
            f"near-dup threshold must be a fraction in [0, 1] with "
            f"threshold_den >= 1, got {threshold_num}/{threshold_den}")
    from .similarity import _quantized_sig_frame

    planes = quantized_planes(dim, bits, seed, q_bits)
    base = _quantized_sig_frame(df, out_id="_id", id_col=id_col,
                                vec_col=vec_col, dim=dim, q_bits=q_bits,
                                coord_bound=None, planes=planes, bits=bits)
    # persist: the signed frame feeds the bucket-size agg AND both join
    # sides, across broadcast boundaries where no ReusedExchange forms
    # (r5 law) — without it the corpus is quantized and signed three
    # times per action.
    base = pin(base, StorageLevel.MEMORY_AND_DISK)

    sizes = (base.groupBy("_sig")
             .agg(F.count(F.lit(1)).alias("_bn"))
             .filter(F.col("_bn").between(2, max_bucket))
             .drop("_bn"))
    capped = base.join(sizes, on="_sig")
    a = capped.select(F.col("_id").alias("id_a"),
                      F.col("_qv").alias("qa"),
                      F.col("_nrm").alias("_na"), "_sig")
    b_ = capped.select(F.col("_id").alias("id_b"),
                       F.col("_qv").alias("qb"),
                       F.col("_nrm").alias("_nb"), "_sig")
    joined = a.join(b_, on="_sig").filter(F.col("id_a") < F.col("id_b"))
    dot = _idot(F.col("qa"), F.col("qb"))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    return (joined
            .select("id_a", "id_b", dot.alias("_dot"), "_na", "_nb")
            .filter((F.col("_dot") > 0) &
                    (F.lit(den2) * F.col("_dot") * F.col("_dot") >=
                     F.lit(num2) * F.col("_na") * F.col("_nb")))
            .select("id_a", "id_b"))


def embedding_near_dups_oracle_sql(*, dim: int, threshold_num: int = 2,
                                   threshold_den: int = 5, bits: int = 4,
                                   seed: int = 42, q_bits: int = 10,
                                   max_bucket: int = 64,
                                   table: str = "embeddings",
                                   vec_col: str = "embedding",
                                   id_col: str = "vec_id") -> str:
    """DuckDB SQL reproducing :func:`embedding_near_dups_quantized`
    bit-for-bit — the hyperplane constants are inlined as integer
    literals, so the projection signs and the squared-cosine verify are
    exact integer arithmetic in both engines."""
    planes = quantized_planes(dim, bits, seed, q_bits)
    scale = 1 << q_bits

    def proj_sql(b: int) -> str:
        terms = " + ".join(f"qv[{j + 1}]*({planes[b][j]})"
                           for j in range(dim))
        return f"(CASE WHEN {terms} >= 0 THEN {1 << b} ELSE 0 END)"

    sig_sql = " + ".join(proj_sql(b) for b in range(bits))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    return f"""
        WITH q AS (
          SELECT {id_col} AS vid,
                 list_transform({vec_col},
                                x -> CAST(floor(x * {scale}) AS BIGINT)) AS qv
          FROM {table}
          WHERE len({vec_col}) = {dim}
            AND len(list_filter({vec_col}, x -> x IS NULL)) = 0),
        s AS (SELECT vid, qv, {sig_sql} AS sig FROM q),
        b AS (SELECT sig FROM s GROUP BY sig
              HAVING count(*) BETWEEN 2 AND {max_bucket}),
        cand AS (
          SELECT x.vid AS id_a, y.vid AS id_b, x.qv AS qa, y.qv AS qb
          FROM s x JOIN b USING (sig)
          JOIN s y ON y.sig = x.sig AND x.vid < y.vid),
        m AS (
          SELECT id_a, id_b,
                 list_sum(list_transform(range(1, {dim + 1}),
                                         j -> qa[j]*qb[j])) AS dot,
                 list_sum(list_transform(qa, x -> x*x)) AS na,
                 list_sum(list_transform(qb, x -> x*x)) AS nb
          FROM cand)
        SELECT id_a, id_b FROM m
        WHERE dot > 0 AND {den2}*dot*dot >= {num2}*na*nb
    """
