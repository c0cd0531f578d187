"""Similarity search over embedding columns (``array<float>``).

boon has no similarity ops (SURVEY.md §2.9) — this is part of the
training-data-pipeline extension mandated by the build brief.

Scale design for ``cosine_topk`` (brute force, the exact baseline):

1. queries are **broadcast** (small side) and cross-joined against the
   corpus — a narrow, shuffle-free stage;
2. cosine is computed with built-in higher-order functions
   (``zip_with`` + ``aggregate``) — JVM-side, no Python;
3. **partial top-k per corpus partition**: group by
   ``(spark_partition_id, query)`` — each group is map-local, so the
   partial ``collect_list`` combines map-side and the shuffle carries only
   ``P × Q`` rows of ≤k candidates, never the exploded corpus;
4. final global top-k over that tiny table.

At 1000 executors × 100 TB this shuffles megabytes, not the cross
product.  ``lsh_bucket_topk`` is the approximate scale path: deterministic
random-hyperplane signatures bucket the corpus so each query only scans
its bucket (plus multi-probe neighbors).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._ckpt import StorageLevel, pin


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _exact_query_chunks(q_all: DataFrame, n_q: int,
                        max_per_pass: int) -> list[DataFrame]:
    """Split the query projection into chunks of EXACTLY ≤ max_per_pass
    rows via row_number over query_id.  The global (single-partition)
    window is deliberate: the query side is small by contract — it is
    about to be broadcast — so sorting it on one task is bounded by the
    same budget as the broadcast itself.  A hash-pmod chunk key only
    bounds the average chunk; a skewed hash could exceed the broadcast
    budget the parameter exists to enforce (ADVICE r3).

    ``n_q`` comes from a driver-time count while chunk assignment runs
    at execution time; if the query plan is nondeterministic or its
    source grew in between, extra rows land past the planned range —
    the LAST chunk uses ``>=`` so they are still processed (one chunk
    may exceed the broadcast bound in that pathological case) instead
    of silently dropped."""
    if n_q <= max_per_pass:
        return [q_all]
    n_chunks = -(-n_q // max_per_pass)
    w = Window.orderBy("query_id")
    numbered = q_all.withColumn(
        "_chunk",
        F.floor((F.row_number().over(w) - 1) / F.lit(max_per_pass))
        .cast("int"))
    return [numbered.filter(
        (F.col("_chunk") == i) if i < n_chunks - 1
        else (F.col("_chunk") >= i)).drop("_chunk")
        for i in range(n_chunks)]


def cosine_topk(corpus: DataFrame, queries: DataFrame, *, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_self: bool = True, sub_buckets: int = 16,
                max_queries_per_pass: int | None = None) -> DataFrame:
    """Exact top-k neighbors by cosine for each query row.

    Returns ``(query_id, neighbor_id, rank)`` with rank 1..k, ties broken
    by ascending neighbor id (deterministic).

    Memory bounds:

    - rows whose cosine is NULL (null / ragged corpus or query embeddings)
      are filtered *before* the partial top-k — otherwise they sort first
      on the negated-cosine key and evict real neighbors map-side;
    - the partial-agg group key is ``(_pid, query_id, _sub)`` where
      ``_sub = pmod(xxhash64(neighbor_id), sub_buckets)``: with
      Q × sub_buckets groups per partition the ObjectHashAggregate
      sort-based fallback (threshold 128 distinct keys) engages and
      processes groups one at a time off a spillable sort, so the resident
      ``collect_list`` buffer is one group ≈ partition_rows / sub_buckets
      — never the whole partition × Q.  Because the fallback spills, the
      per-partition group COUNT does not need bounding: the default is a
      **single pass over the corpus for any Q** (round-4: the r3 chunk
      loop re-scanned the full corpus ⌈Q/256⌉ times — 40 corpus scans at
      Q=10k — to bound a group count that was already spill-safe);
    - ``max_queries_per_pass`` exists ONLY for broadcast-size grounds:
      set it when Q × dim × 8B would blow the broadcast budget (e.g.
      10 MB of query vectors per 256 queries at dim=4096).  Chunks are
      EXACT (row_number over the small query side, ≤ max per pass — a
      hash-pmod chunk only bounds the average), and chunked mode
      ``persist()``\\s the corpus projection so the corpus is still read
      once, not once per chunk; the enclosing ``_ckpt.scope()`` releases
      it (outside a scope it lives for the session).

    The shuffle carries only candidate lists, never the corpus×Q
    cross product.
    """
    q_all = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"))

    if max_queries_per_pass is not None:
        # opt-in broadcast chunking: n_q is a driver action on the SMALL
        # side only, and only in this branch (the default path runs zero
        # driver jobs before the caller's action)
        n_q = q_all.count()
        chunks = _exact_query_chunks(q_all, n_q, max_queries_per_pass)
        if len(chunks) > 1:
            c = pin(c, StorageLevel.MEMORY_AND_DISK)
    else:
        chunks = [q_all]

    cands = []
    for q in chunks:
        joined = c.crossJoin(F.broadcast(q))
        if exclude_self:
            joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
        scored = (joined
                  .select("query_id", "neighbor_id",
                          cosine(F.col("_cv"), F.col("_qv")).alias("cos"))
                  .filter(F.col("cos").isNotNull()))

        # partial top-k per corpus partition: the group key includes the
        # physical partition id, so partial aggregation completes map-side
        # and the shuffle carries only (P × Q × sub_buckets) candidate
        # lists of ≤ k entries
        partial = (scored
                   .withColumn("_pid", F.spark_partition_id())
                   .withColumn("_sub", F.pmod(
                       F.xxhash64(F.col("neighbor_id")),
                       F.lit(max(1, sub_buckets))))
                   .groupBy("_pid", "query_id", "_sub")
                   .agg(F.slice(
                       F.sort_array(
                           F.collect_list(F.struct(
                               # negate the COSINE (always numeric) so one
                               # ascending sort yields (cos desc, id asc) —
                               # negating the id would NULL out non-numeric
                               # id columns (string doc_ids) via the cast
                               (-F.col("cos")).alias("_nc"),
                               F.col("neighbor_id").alias("_nid")))),
                       1, k).alias("_top")))
        cands.append(partial.select("query_id", F.explode("_top").alias("t"))
                     .select("query_id", (-F.col("t._nc")).alias("cos"),
                             F.col("t._nid").alias("neighbor_id")))

    cand = cands[0]
    for extra in cands[1:]:
        cand = cand.unionByName(extra)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (cand
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


# ---------------------------------------------------------------------------
# LSH-bucketed approximate variant (scale path)
# ---------------------------------------------------------------------------

def _hyperplane(dim: int, bit: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane: values derived from
    a splitmix-style integer mix of (bit, coordinate, seed) — identical on
    every executor, no RNG state."""
    out = []
    for j in range(dim):
        x = (bit * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9
             + seed * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        out.append((x / 2**64) * 2.0 - 1.0)
    return out


def simhash_signature(vec: Column, dim: int, *, bits: int = 16,
                      seed: int = 42) -> Column:
    """Random-hyperplane (SimHash) signature of an embedding as an int —
    pure Column expressions, JVM-side."""
    bit_cols = []
    for b in range(bits):
        plane = _hyperplane(dim, b, seed)
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(p) for p in plane]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bit_cols.append(F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return sig.cast("long")


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, *, k: int,
                    dim: int, id_col: str = "vec_id",
                    vec_col: str = "embedding", bits: int = 8,
                    seed: int = 42, multiprobe: bool = True,
                    max_bucket: int | None = 1024,
                    max_queries_per_pass: int | None = None) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by SimHash signature,
    join on the bucket, rank within.  Recall < 1.0 by construction; the
    bucket join replaces the cross product — at scale this is a standard
    broadcast equi-join on the signature (bounded fan-out).

    ``multiprobe`` explodes each QUERY into its bucket plus all 1-bit-
    flipped neighbor buckets (bits+1 probes) — the classic recall lever
    that costs query-side fan-out (small side) instead of corpus passes.

    Skew/size bounds (round-4, mirroring ``dedup.minhash_lsh_pairs``):

    - ``max_bucket`` drops corpus buckets holding more rows — exactly the
      near-duplicate-heavy buckets this operator attracts would otherwise
      make the bucket join arbitrarily skewed.  The drop is computed from
      a count-only aggregation (the shuffle carries ``(_sig, partial
      count)``, never embeddings — the corpus itself stays un-shuffled)
      followed by a broadcast anti-join against the tiny over-cap list.
      Audit the recall loss with :func:`lsh_bucket_stats` (same
      parameters → the audited buckets ARE the join's buckets);
    - ``max_queries_per_pass`` chunks the query broadcast (exact chunks
      via row_number, BEFORE the ×(bits+1) multiprobe fan-out); chunked
      mode persists the capped corpus projection so the corpus is read
      once across chunks.
    """
    sig_c = simhash_signature(F.col(vec_col), dim, bits=bits, seed=seed)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"), sig_c.alias("_sig"))
    if max_bucket is not None:
        over = (c.groupBy("_sig").agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > max_bucket).select("_sig"))
        c = c.join(F.broadcast(over), on="_sig", how="left_anti")
    q_all = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("_qv"), sig_c.alias("_sig0"))
    if max_queries_per_pass is not None:
        n_q = q_all.count()
        chunks = _exact_query_chunks(q_all, n_q, max_queries_per_pass)
        if len(chunks) > 1:
            c = pin(c, StorageLevel.MEMORY_AND_DISK)
    else:
        chunks = [q_all]

    scored_parts = []
    for q in chunks:
        if multiprobe:
            probes = F.array(F.col("_sig0"), *[
                F.col("_sig0").bitwiseXOR(F.lit(1 << b))
                for b in range(bits)])
            q = q.select("query_id", "_qv",
                         F.explode(probes).alias("_sig"))
        else:
            q = q.withColumnRenamed("_sig0", "_sig")
        joined = (c.join(F.broadcast(q), on="_sig")
                  .filter(F.col("neighbor_id") != F.col("query_id")))
        scored_parts.append(
            joined.select("query_id", "neighbor_id",
                          cosine(F.col("_cv"), F.col("_qv")).alias("cos"))
            # null cosines (null/ragged embeddings) are never neighbors
            .filter(F.col("cos").isNotNull()))
    scored = scored_parts[0]
    for extra in scored_parts[1:]:
        scored = scored.unionByName(extra)
    # dedup multiprobe double-hits AFTER the union: duplicate query_id
    # rows can straddle a chunk boundary, so a per-chunk dedup would let
    # the same (query, neighbor) pair take two of the k slots
    scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def _idot(x: Column, y: Column) -> Column:
    """Integer dot product of two long arrays (JVM-side, exact)."""
    return F.aggregate(F.zip_with(x, y, lambda u, v: u * v),
                       F.lit(0).cast("long"), lambda acc, u: acc + u)


def _quantized_sig_of(qcol: Column, planes: list[list[int]],
                      bits: int) -> Column:
    """Integer-plane SimHash signature of a quantized vector — shared by
    :func:`lsh_topk_quantized` and its bucket-stats audit so the audited
    buckets ARE the join's buckets (a drifted copy would count buckets
    the join never formed)."""
    s = None
    for b in range(bits):
        pl = F.array(*[F.lit(p).cast("long") for p in planes[b]])
        proj = F.aggregate(F.zip_with(qcol, pl, lambda x, y: x * y),
                           F.lit(0).cast("long"),
                           lambda acc, x: acc + x)
        term = F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        s = term if s is None else s + term
    return s.cast("long")


def _quantized_clean_qv(vec_col: str, dim: int, q_bits: int,
                        coord_bound: float) -> tuple[Column, Column]:
    """(clean-row predicate, quantized-vector column) shared by the
    quantized join and its stats companion: rows that are ragged, hold
    NULL elements, or exceed ``coord_bound`` are excluded identically in
    both (and in the generated oracles)."""
    scale = 1 << q_bits
    qv = F.transform(F.col(vec_col),
                     lambda x: F.floor(x * F.lit(scale)).cast("long"))
    clean = (F.size(F.col(vec_col)) == dim) & \
        (F.size(F.filter(F.col(vec_col),
                         lambda x: x.isNull() |
                         (F.abs(x) > F.lit(float(coord_bound))))) == 0)
    return clean, qv


def _quantized_sig_frame(df: DataFrame, *, out_id: str | None,
                         id_col: str, vec_col: str, dim: int,
                         q_bits: int, coord_bound: float,
                         planes: list[list[int]], bits: int) -> DataFrame:
    """``(out_id?, _qv, _sig, _nrm)`` — the clean-filter + quantize +
    integer-plane signature + squared-norm pipeline as ONE numpy Arrow
    UDF (r7): bit-identical to ``_quantized_clean_qv`` +
    ``_quantized_sig_of`` + ``_idot`` (pinned in test_similarity_ids)
    — floor of a power-of-two multiply, int64 matmul against the same
    integer planes, int64 norms — but a single vectorized pass instead
    of ~bits·dim interpreted HOF nodes per row, and the signature/norm
    are computed ONCE per row instead of re-deriving norms per joined
    pair.  Unclean rows (ragged / NULL element / out-of-bound / zero
    norm) yield NULL and are filtered; the UDF is nondeterministic-
    marked so the filter cannot clone it (guide §4.4)."""
    import numpy as np

    pl = np.array(planes, dtype=np.int64)
    scale = 1 << q_bits
    bound = float(coord_bound)
    pw = np.left_shift(np.int64(1), np.arange(bits, dtype=np.int64))

    @F.pandas_udf(
        "struct<qv: array<bigint>, sig: bigint, nrm: bigint>")
    def _ss(vec: pd.Series) -> pd.DataFrame:
        qvs, sigs, nrms = [], [], []
        for v in vec:
            if v is None or len(v) != dim:
                qvs.append(None); sigs.append(None); nrms.append(None)
                continue
            arr = np.asarray(v, dtype=np.float64)
            if np.isnan(arr).any() or (np.abs(arr) > bound).any():
                qvs.append(None); sigs.append(None); nrms.append(None)
                continue
            q = np.floor(arr * scale).astype(np.int64)
            nrm = int((q * q).sum())
            if nrm <= 0:
                qvs.append(None); sigs.append(None); nrms.append(None)
                continue
            sig = int(pw[(pl @ q) >= 0].sum())
            qvs.append(q); sigs.append(sig); nrms.append(nrm)
        return pd.DataFrame({"qv": qvs, "sig": sigs, "nrm": nrms})

    cols = ([F.col(id_col).alias(out_id)] if out_id else [])
    return (df.select(*cols,
                      _ss.asNondeterministic()(F.col(vec_col))
                      .alias("_s"))
            .filter(F.col("_s.sig").isNotNull())
            .select(*([out_id] if out_id else []),
                    F.col("_s.qv").alias("_qv"),
                    F.col("_s.sig").alias("_sig"),
                    F.col("_s.nrm").alias("_nrm")))


def lsh_topk_quantized(corpus: DataFrame, queries: DataFrame, *, k: int,
                       dim: int, id_col: str = "vec_id",
                       vec_col: str = "embedding", bits: int = 6,
                       seed: int = 42, q_bits: int = 6,
                       rank_shift: int = 20, multiprobe: bool = True,
                       max_bucket: int | None = 1024,
                       coord_bound: float = 1.0) -> DataFrame:
    """Integer-exact approximate top-k — the oracle-pairable variant of
    :func:`lsh_bucket_topk` (same construction as
    ``dedup.embedding_near_dups_quantized``: float LSH risks sign flips
    on near-zero projections and float-cosine rank flips between
    engines; every step here is int64 arithmetic, bit-identical
    everywhere).

    - coordinates quantize to ``floor(x·2^q_bits)`` (power-of-two
      multiply = exact in binary FP);
    - bucket signatures are signs of integer dot products with
      integer-quantized hyperplanes (multiprobe = the signature plus its
      ``bits`` 1-bit flips, query-side fan-out only);
    - over-``max_bucket`` corpus buckets are DROPPED (count-only agg +
      broadcast anti-join; audit with :func:`lsh_quantized_bucket_stats`,
      which shares the integer signature pipeline so its counts ARE this
      join's buckets) — the hot near-duplicate bucket never skews the
      join;
    - the rank key is the **scaled quantized squared cosine**
      ``sign(dot) · (dot²·2^rank_shift DIV (‖a‖²·‖b‖²))`` — integer
      floor-division, resolution 2^-rank_shift on cos², ties broken by
      ascending neighbor id;
    - overflow safety is a CONTRACT, not an assumption: rows with any
      ``|coordinate| > coord_bound`` are excluded (identically in the
      oracle — ANSI mode would otherwise turn an int64 overflow into a
      job abort on unnormalized embeddings), and the derived bound
      ``(dim·B²)²·2^rank_shift < 2^63`` with ``B =
      floor(coord_bound·2^q_bits)+1`` is checked with a real exception
      (an ``assert`` disappears under ``python -O``).

    Returns ``(query_id, neighbor_id, rank)``, rank 1..k.
    """
    B = int(coord_bound * (1 << q_bits)) + 1
    if (dim * B * B) ** 2 * (1 << rank_shift) >= (1 << 63):
        raise ValueError(
            f"rank-key overflow: dim={dim}, q_bits={q_bits}, "
            f"rank_shift={rank_shift}, coord_bound={coord_bound} exceeds "
            f"int64 — lower q_bits/rank_shift/coord_bound")
    from .dedup import quantized_planes
    planes = quantized_planes(dim, bits, seed)
    # ragged/null/out-of-bound vectors excluded identically in both
    # engines (see dedup.embedding_near_dups_quantized NULL-poisoning
    # note; the coord_bound arm is the overflow contract above).  The
    # clean + quantize + signature + norm pipeline is ONE numpy Arrow
    # pass per side (r7 — _quantized_sig_frame, pinned bit-identical to
    # the expression form), and the norms ride the join instead of
    # being re-derived per candidate pair.
    c = (_quantized_sig_frame(
            corpus, out_id="neighbor_id", id_col=id_col,
            vec_col=vec_col, dim=dim, q_bits=q_bits,
            coord_bound=coord_bound, planes=planes, bits=bits)
         .withColumnRenamed("_qv", "_cq")
         .withColumnRenamed("_nrm", "_nb"))
    if max_bucket is not None:
        # persist: the signature pipeline feeds BOTH the bucket-cap
        # count agg and the anti-join probe side, across a broadcast
        # boundary where no ReusedExchange forms — without it the
        # corpus is quantized and signed twice per action (r7)
        c = pin(c, StorageLevel.MEMORY_AND_DISK)
        over = (c.groupBy("_sig").agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > max_bucket).select("_sig"))
        c = c.join(F.broadcast(over), on="_sig", how="left_anti")
    q = (_quantized_sig_frame(
            queries, out_id="query_id", id_col=id_col, vec_col=vec_col,
            dim=dim, q_bits=q_bits, coord_bound=coord_bound,
            planes=planes, bits=bits)
         .withColumnRenamed("_qv", "_qq")
         .withColumnRenamed("_nrm", "_na"))
    if multiprobe:
        probes = F.array(F.col("_sig"), *[
            F.col("_sig").bitwiseXOR(F.lit(1 << b)) for b in range(bits)])
        q = q.select("query_id", "_qq", "_na",
                     F.explode(probes).alias("_sig"))
    else:
        q = q.select("query_id", "_qq", "_na", "_sig")
    joined = (c.join(F.broadcast(q), on="_sig")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .dropDuplicates(["query_id", "neighbor_id"]))
    dot = _idot(F.col("_cq"), F.col("_qq"))
    scaled = F.expr(f"(_dot * _dot * {1 << rank_shift}) DIV (_na * _nb)")
    key = (F.when(F.col("_dot") > 0, scaled)
           .when(F.col("_dot") < 0, -scaled)
           .otherwise(F.lit(0)))
    scored = (joined.select("query_id", "neighbor_id", "_na", "_nb",
                            dot.alias("_dot"))
              .withColumn("_key", key))
    w = Window.partitionBy("query_id").orderBy(
        F.col("_key").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def _quantized_cs_cte(*, dim: int, bits: int, seed: int, q_bits: int,
                      coord_bound: float, table: str, id_col: str,
                      vec_col: str) -> str:
    """The DuckDB CTE prefix reproducing the quantize → clean-filter →
    integer-signature pipeline (``cs`` = the clean corpus with ``sig`` and
    ``nrm``) — shared by the top-k oracle and the bucket-stats oracle so
    both audit the same buckets the Spark join forms."""
    from .dedup import quantized_planes
    planes = quantized_planes(dim, bits, seed)
    scale = 1 << q_bits

    def proj_sql(b: int) -> str:
        terms = " + ".join(f"qv[{j + 1}]*({planes[b][j]})"
                           for j in range(dim))
        return f"(CASE WHEN {terms} >= 0 THEN {1 << b} ELSE 0 END)"

    sig_sql = " + ".join(proj_sql(b) for b in range(bits))
    return f"""
        q0 AS (
          SELECT {id_col} AS vid,
                 list_transform({vec_col},
                                x -> CAST(floor(x * {scale}) AS BIGINT)) AS qv
          FROM {table}
          WHERE len({vec_col}) = {dim}
            AND len(list_filter({vec_col},
                    x -> x IS NULL OR abs(x) > {float(coord_bound)!r})) = 0),
        n0 AS (
          SELECT vid, qv,
                 CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT)
                   AS nrm,
                 {sig_sql} AS sig
          FROM q0),
        cs AS (SELECT * FROM n0 WHERE nrm > 0)"""


def lsh_topk_quantized_oracle_sql(*, k: int, dim: int, bits: int = 6,
                                  seed: int = 42, q_bits: int = 6,
                                  rank_shift: int = 20,
                                  multiprobe: bool = True,
                                  max_bucket: int | None = 1024,
                                  table: str = "embeddings",
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  coord_bound: float = 1.0,
                                  query_pred: str = "vid < 5") -> str:
    """DuckDB SQL reproducing :func:`lsh_topk_quantized` bit-for-bit:
    hyperplane constants inlined as integer literals, the same integer
    floor-division rank key (both engines' integer DIV truncate toward
    zero; the key applies it to non-negative operands only, where
    truncation == floor)."""
    cs_cte = _quantized_cs_cte(dim=dim, bits=bits, seed=seed,
                               q_bits=q_bits, coord_bound=coord_bound,
                               table=table, id_col=id_col, vec_col=vec_col)
    if multiprobe:
        probe_list = ", ".join(["sig"] + [f"xor(sig, {1 << b})"
                                          for b in range(bits)])
        probes_cte = f"""
        qp AS (SELECT vid, qv, nrm, unnest([{probe_list}]) AS sig
               FROM qs),"""
        qjoin = "qp"
    else:
        probes_cte = ""
        qjoin = "qs"
    cap_cte = f"""
        keep AS (SELECT sig FROM cs GROUP BY sig
                 HAVING count(*) <= {max_bucket}),""" \
        if max_bucket is not None else ""
    cap_join = "JOIN keep USING (sig)" if max_bucket is not None else ""
    return f"""
        WITH {cs_cte},
        qs AS (SELECT * FROM cs WHERE {query_pred}),{probes_cte}{cap_cte}
        pairs AS (
          SELECT DISTINCT q.vid AS query_id, c.vid AS neighbor_id,
                 q.qv AS qa, c.qv AS qb, q.nrm AS na, c.nrm AS nb
          FROM {qjoin} q JOIN cs c USING (sig) {cap_join}
          WHERE c.vid <> q.vid),
        m AS (
          SELECT query_id, neighbor_id,
                 CAST(list_sum(list_transform(range(1, {dim + 1}),
                                              j -> qa[j]*qb[j]))
                      AS BIGINT) AS dot,
                 na, nb
          FROM pairs),
        keyed AS (
          SELECT query_id, neighbor_id,
                 CASE WHEN dot > 0
                        THEN (dot*dot*{1 << rank_shift}) // (na*nb)
                      WHEN dot < 0
                        THEN -((dot*dot*{1 << rank_shift}) // (na*nb))
                      ELSE 0 END AS rkey
          FROM m),
        ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rkey DESC, neighbor_id ASC)
                   AS rank
          FROM keyed)
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def lsh_quantized_bucket_stats(corpus: DataFrame, *, dim: int,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               bits: int = 6, seed: int = 42,
                               q_bits: int = 6, coord_bound: float = 1.0,
                               max_bucket: int | None = 1024) -> DataFrame:
    """Audit the recall loss of :func:`lsh_topk_quantized`'s bucket cap:
    one row with (n_buckets, n_kept_buckets, n_dropped_buckets,
    n_dropped_docs, largest_bucket) over the INTEGER ``sig_of``
    signatures the quantized join actually buckets by
    (:func:`lsh_bucket_stats` audits the float ``simhash_signature``
    family — a different bucketing; ADVICE r4).  Shares
    :func:`_quantized_sig_of` and the clean-row predicate with the join,
    and is integer-exact, so it is DuckDB-oracle-pairable
    (:func:`lsh_quantized_bucket_stats_oracle_sql`).  Count-only: the
    shuffle carries (signature, partial count), never embeddings."""
    from .dedup import quantized_planes
    planes = quantized_planes(dim, bits, seed)
    cap = max_bucket if max_bucket is not None else (1 << 62)
    c = _quantized_sig_frame(
        corpus, out_id=None, id_col=id_col, vec_col=vec_col, dim=dim,
        q_bits=q_bits, coord_bound=coord_bound, planes=planes,
        bits=bits)
    sizes = c.groupBy("_sig").agg(F.count(F.lit(1)).alias("n"))
    return _cap_size_stats(sizes, cap, "bucket")


def _cap_size_stats(sizes: DataFrame, cap: int, unit: str) -> DataFrame:
    """The shared cap-audit aggregate over a ``(key, n)`` sizes frame:
    one row ``(n_{unit}s, n_kept_{unit}s, n_dropped_{unit}s,
    n_dropped_docs, largest_{unit})``.  ONE definition for all three
    audit companions (quantized-LSH, IVF cells, float-LSH) so the
    kept/dropped accounting cannot drift between them — each audit's
    docstring promises the counts describe exactly what its join
    drops.  Empty input yields all zeros (coalesced)."""
    return sizes.agg(
        F.count(F.lit(1)).alias(f"n_{unit}s"),
        F.coalesce(F.sum((F.col("n") <= cap).cast("long")),
                   F.lit(0)).alias(f"n_kept_{unit}s"),
        F.coalesce(F.sum((F.col("n") > cap).cast("long")),
                   F.lit(0)).alias(f"n_dropped_{unit}s"),
        F.coalesce(F.sum(F.when(F.col("n") > cap, F.col("n"))),
                   F.lit(0)).alias("n_dropped_docs"),
        F.coalesce(F.max("n"), F.lit(0)).alias(f"largest_{unit}"))


def lsh_quantized_bucket_stats_oracle_sql(*, dim: int, bits: int = 6,
                                          seed: int = 42, q_bits: int = 6,
                                          coord_bound: float = 1.0,
                                          max_bucket: int | None = 1024,
                                          table: str = "embeddings",
                                          id_col: str = "vec_id",
                                          vec_col: str = "embedding") -> str:
    """DuckDB SQL reproducing :func:`lsh_quantized_bucket_stats`
    bit-for-bit (same generated integer hyperplanes, same clean-row
    predicate; DuckDB sums are HUGEINT → cast back to BIGINT)."""
    cs_cte = _quantized_cs_cte(dim=dim, bits=bits, seed=seed,
                               q_bits=q_bits, coord_bound=coord_bound,
                               table=table, id_col=id_col, vec_col=vec_col)
    cap = max_bucket if max_bucket is not None else (1 << 62)
    return f"""
        WITH {cs_cte},
        sizes AS (SELECT sig, count(*) AS n FROM cs GROUP BY sig)
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(COALESCE(sum(CASE WHEN n <= {cap} THEN 1 ELSE 0 END),
                             0) AS BIGINT) AS n_kept_buckets,
               CAST(COALESCE(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END),
                             0) AS BIGINT) AS n_dropped_buckets,
               CAST(COALESCE(sum(CASE WHEN n > {cap} THEN n END),
                             0) AS BIGINT) AS n_dropped_docs,
               CAST(COALESCE(max(n), 0) AS BIGINT) AS largest_bucket
        FROM sizes
    """


# each Lloyd step / probe projection inlines n_centroids × dim float
# literals into the plan — linear growth, but nothing else bounds it; at
# 4096 centroids × dim 1024 the expression tree alone is ~100 MB and the
# driver dies at plan time, far past any sensible IVF configuration
_IVF_MAX_CENTROID_LITERALS = 1 << 18  # 262,144 ≈ 256 centroids × dim 1024


def _ivf_guard(n_centroids: int, dim: int | None) -> None:
    """Plan-size guard (VERDICT r4 #3): IVF centroids are broadcast as
    plan literals, so n_centroids × dim is an expression budget, not just
    a memory one.  A real exception, mirroring the quantized overflow
    guard — an assert disappears under ``python -O``."""
    if dim is not None and n_centroids * dim > _IVF_MAX_CENTROID_LITERALS:
        raise ValueError(
            f"ivf plan-size guard: n_centroids={n_centroids} × dim={dim} "
            f"= {n_centroids * dim} centroid literals exceeds the "
            f"{_IVF_MAX_CENTROID_LITERALS} expression budget (each Lloyd "
            "step inlines every centroid coordinate into the plan) — "
            "lower n_centroids, or use lsh_topk_quantized / "
            "lsh_bucket_topk for high-dimensional wide indexes")


def _ivf_assign(cents: list[list[float]], vcol: str) -> Column:
    """Argmin over squared L2 distance to each broadcast centroid: sort a
    small array of (distance, index) structs and take the head — LINEAR
    expression size.  (A when-chain that threads `best_d` through each
    step embeds the previous best twice per centroid — O(2^n)
    expression-tree blowup that OOMs the driver at plan time by n=16.)
    Ties break on the lower centroid index (struct field order),
    deterministic."""
    structs = []
    for ci, cv in enumerate(cents):
        arr = F.array(*[F.lit(float(x)) for x in cv])
        d = F.aggregate(F.zip_with(F.col(vcol), arr,
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x)
        structs.append(F.struct(d.alias("d"), F.lit(ci).alias("c")))
    return F.element_at(F.sort_array(F.array(*structs)), 1)["c"]


def _ivf_fit(corpus: DataFrame, *, id_col: str, vec_col: str,
             n_centroids: int, iters: int, seed: int,
             dim: int | None) -> tuple[DataFrame, list[list[float]]]:
    """Shared deterministic Lloyd fit behind :func:`ivf_topk` and
    :func:`ivf_cell_stats` (one implementation so the audited cells ARE
    the search's cells): returns ``(c, cents)`` where ``c`` is the
    well-formed ``(neighbor_id, _cv)`` corpus projection and ``cents``
    the fitted centroids (empty when no usable seed exists)."""
    _ivf_guard(n_centroids, dim)
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("_cv"))
         .filter(F.col("_cv").isNotNull()))

    # deterministic uniform seed sample: the n_centroids corpus vectors
    # with the smallest hash — one small top-k, no RNG
    seed_rows = (c.select("_cv",
                          F.xxhash64(F.col("neighbor_id"), F.lit(seed))
                          .alias("_h"))
                 .orderBy("_h").limit(n_centroids).collect())
    cents = [list(r._cv) for r in seed_rows if r._cv]
    cents = [v for v in cents if all(x is not None for x in v)]
    # seeds must agree on dimensionality.  With explicit `dim` that is
    # the contract; when inferring, take the MODAL seed length — pinning
    # to the first (hash-minimal) seed would let one ragged vector set a
    # wrong dim and the well-formed filter would then silently discard
    # the entire real corpus
    if dim is None and cents:
        from collections import Counter
        dim = Counter(len(v) for v in cents).most_common(1)[0][0]
        _ivf_guard(n_centroids, dim)
    cents = [v for v in cents if len(v) == dim]
    if not cents:
        return c.limit(0), []
    dim_idx = len(cents[0])
    # ragged / null-element vectors would NULL-poison distances (zip_with
    # pads with NULL) and ANSI element_at would abort the mean agg —
    # exclude them up front, identically for corpus and queries
    well_formed = (F.size(F.col("_cv")) == dim_idx) & \
        (F.size(F.filter(F.col("_cv"), lambda x: x.isNull())) == 0)
    c = c.filter(well_formed)
    for _ in range(iters):
        assigned = c.withColumn("_cell", _ivf_assign(cents, "_cv"))
        means = (assigned.filter(F.col("_cell").isNotNull())
                 .groupBy("_cell")
                 .agg(*[F.avg(F.element_at("_cv", j + 1)).alias(f"m{j}")
                        for j in range(dim_idx)],
                      F.count(F.lit(1)).alias("_n"))
                 .collect())
        # empty cells keep their previous centroid (standard Lloyd)
        for r in means:
            cents[r._cell] = [float(r[f"m{j}"]) for j in range(dim_idx)]
    return c, cents


def ivf_topk(corpus: DataFrame, queries: DataFrame, *, k: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_centroids: int = 16, n_probe: int = 3, iters: int = 2,
             seed: int = 42, dim: int | None = None,
             max_cell: int | None = 100_000) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the centroid-bucketed
    scale path alongside the LSH variants: cluster the corpus into
    ``n_centroids`` Voronoi cells with a few Lloyd iterations, then each
    query scans only its ``n_probe`` nearest cells.

    Deterministic throughout (no RNG state): initial centroids are the
    ``n_centroids`` corpus vectors minimizing ``xxhash64(id, seed)`` —
    a uniform, reproducible sample — and Lloyd updates are exact means,
    so repeated runs (and plan re-executions) agree.  This is an
    ITERATIVE algorithm: each Lloyd step is one assignment join + one
    tiny mean-aggregation, materialized to the driver (centroids are
    ``n_centroids × dim`` floats — kilobytes), so the corpus is scanned
    ``iters + 1`` times total and every join broadcasts only centroids.

    Scale shape at 10^12 rows: assignment = narrow map stage against
    broadcast centroids (no shuffle of the corpus); the mean-agg shuffle
    carries ``n_centroids × dim`` partial sums per task; the final
    search joins each query to its probed cells — a broadcast join on
    cell id with per-cell fan-out bounded by ``max_cell`` (over-cap
    cells are dropped like the LSH ``max_bucket``; at sane
    ``n_centroids`` the cap only trims pathological all-duplicate
    corpora).

    Returns ``(query_id, neighbor_id, rank)``, rank 1..k by cosine,
    ties by ascending neighbor id.  With ``n_probe == n_centroids`` and
    ``max_cell=None`` the cell partition is exhaustive and the result
    EQUALS the exact cosine top-k (pinned in test_similarity_ids) —
    which is how the gate oracle-pairs this iterative operator.  Audit
    ``max_cell`` drops with :func:`ivf_cell_stats`.
    """
    c, cents = _ivf_fit(corpus, id_col=id_col, vec_col=vec_col,
                        n_centroids=n_centroids, iters=iters, seed=seed,
                        dim=dim)
    if not cents:
        return (c.select(F.col("neighbor_id").alias("query_id"),
                         "neighbor_id", F.lit(1).alias("rank"))
                .limit(0))
    dim_idx = len(cents[0])

    cc = c.withColumn("_cell", _ivf_assign(cents, "_cv")) \
        .filter(F.col("_cell").isNotNull())
    if max_cell is not None:
        over = (cc.groupBy("_cell").agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > max_cell).select("_cell"))
        cc = cc.join(F.broadcast(over), on="_cell", how="left_anti")

    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("_qv"))
         .filter(F.col("_qv").isNotNull())
         .filter((F.size(F.col("_qv")) == dim_idx) &
                 (F.size(F.filter(F.col("_qv"),
                                  lambda x: x.isNull())) == 0)))
    # probe list: the n_probe nearest centroids per query — small side,
    # computed as an array rank over the broadcast centroid distances
    dists = []
    for ci, cv in enumerate(cents):
        arr = F.array(*[F.lit(float(x)) for x in cv])
        dists.append(F.struct(
            F.aggregate(F.zip_with(F.col("_qv"), arr,
                                   lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            F.lit(ci).alias("c")))
    probes = F.slice(F.sort_array(F.array(*dists)), 1,
                     min(n_probe, len(cents)))
    q = q.select("query_id", "_qv",
                 F.explode(F.transform(probes, lambda s: s.c))
                 .alias("_cell"))

    joined = (cc.join(F.broadcast(q), on="_cell")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    scored = (joined.select(
        "query_id", "neighbor_id",
        cosine(F.col("_cv"), F.col("_qv")).alias("cos"))
        .filter(F.col("cos").isNotNull()))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def ivf_cell_stats(corpus: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_centroids: int = 16,
                   iters: int = 2, seed: int = 42, dim: int | None = None,
                   max_cell: int | None = 100_000) -> DataFrame:
    """Audit the recall loss of :func:`ivf_topk`'s ``max_cell`` cap: one
    row with (n_cells, n_kept_cells, n_dropped_cells, n_dropped_docs,
    largest_cell) — the no-silent-truncation companion (ADVICE r4).
    Shares :func:`_ivf_fit`, so the audited cells ARE the search's cells
    for the same (n_centroids, iters, seed, dim).  Count-only after the
    fit: the stats shuffle carries (cell, partial count).  Like the fit
    itself this is ITERATIVE (re-runs Lloyd) — not SQL-expressible, so
    it is pinned by unit tests rather than a DuckDB oracle."""
    c, cents = _ivf_fit(corpus, id_col=id_col, vec_col=vec_col,
                        n_centroids=n_centroids, iters=iters, seed=seed,
                        dim=dim)
    cap = max_cell if max_cell is not None else (1 << 62)
    spark = corpus.sparkSession
    if not cents:
        return spark.range(1).select(
            F.lit(0).cast("long").alias("n_cells"),
            F.lit(0).cast("long").alias("n_kept_cells"),
            F.lit(0).cast("long").alias("n_dropped_cells"),
            F.lit(0).cast("long").alias("n_dropped_docs"),
            F.lit(0).cast("long").alias("largest_cell"))
    cc = c.withColumn("_cell", _ivf_assign(cents, "_cv")) \
        .filter(F.col("_cell").isNotNull())
    sizes = cc.groupBy("_cell").agg(F.count(F.lit(1)).alias("n"))
    return _cap_size_stats(sizes, cap, "cell")


def lsh_bucket_stats(corpus: DataFrame, *, dim: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     bits: int = 8, seed: int = 42,
                     max_bucket: int | None = 1024) -> DataFrame:
    """Audit the recall loss of :func:`lsh_bucket_topk`'s bucket cap: one
    row with (n_buckets, n_kept_buckets, n_dropped_buckets,
    n_dropped_docs, largest_bucket) for the same signature parameters —
    the no-silent-truncation companion (pattern:
    ``dedup.minhash_lsh_bucket_stats``).  Count-only: the shuffle carries
    (signature, partial count), never embeddings."""
    cap = max_bucket if max_bucket is not None else (1 << 62)
    sig_c = simhash_signature(F.col(vec_col), dim, bits=bits, seed=seed)
    sizes = (corpus.select(sig_c.alias("_sig"))
             .groupBy("_sig").agg(F.count(F.lit(1)).alias("n")))
    return _cap_size_stats(sizes, cap, "bucket")
