"""Near-duplicate cluster resolution: candidate pairs → connected
components → one canonical survivor per cluster.

The dedup operators (:mod:`.dedup`) emit *pairs*; an actual dedup pass
over a 100 TB corpus must turn those pairs into clusters and keep one
document per cluster.  This module closes that gap with the alternating
large-star / small-star connected-components algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", ACM SoCC 2014 — the
same public algorithm GraphFrames uses), expressed entirely in
DataFrame ops.

Scale notes:

* ``connected_components`` — the iterated state is only the ``(u, v)``
  edge frame (two orderable columns, no text/payload); each round is
  two shuffles (a ``groupBy(min)`` and the join back), and the
  alternating algorithm converges in O(log n) rounds even on path
  graphs (a plain min-label propagation would need O(diameter)).  The
  edge set is the *capped* candidate-pair output of the dedup
  operators, orders of magnitude smaller than the corpus, so the whole
  loop never touches corpus-sized data.  Lineage is truncated with
  ``localCheckpoint`` every round — without it the logical plan doubles
  per iteration and the driver OOMs on plan analysis long before the
  executors feel anything (the iterative-lineage trap, same reason
  ``ivf_topk`` collects its tiny centroid state to the driver; the edge
  frame is NOT tiny, so it stays distributed and checkpoints instead).
* ``attach_clusters`` — one join of the corpus against the label frame
  (clustered docs only — typically ≪ corpus, so AQE broadcasts it);
  singletons get their own id via ``coalesce``, never a second pass.
* ``keep_canonical`` — one partial-aggregable ``max_by`` shuffle
  carrying ``(cluster_id, quality, id)`` triples; no window, no sort,
  no per-cluster skew concern beyond the dedup operators' own bucket
  caps.
* ``cluster_size_stats`` — count-only double aggregate, the
  no-silent-truncation audit companion shape.

Determinism: component labels are the MIN node id under the id
column's natural ordering — stable across parallelism levels and
re-expressible in the DuckDB oracle as a recursive min-label CTE.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ckpt import pin, release

__all__ = ["connected_components", "attach_clusters", "keep_canonical",
           "cluster_size_stats"]


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Distinct undirected edges oriented large-endpoint-first
    ``(u, v)`` with ``u > v`` — the invariant every loop step
    preserves.  Self-loops are dropped (they carry no connectivity)."""
    return (edges
            .filter(F.col(src_col) != F.col(dst_col))
            .select(F.greatest(src_col, dst_col).alias("u"),
                    F.least(src_col, dst_col).alias("v"))
            .distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node links each STRICTLY LARGER
    neighbor to the minimum of its closed neighborhood.  Input and
    output both hold the ``u > v`` canonical orientation (the emitted
    edge is ``(y, m)`` with ``y > x >= m``)."""
    nb = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (nb.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("u", F.col("_mv")).alias("_m")))
    return (nb.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node links its SMALLER-OR-EQUAL
    neighbors (and itself) to their minimum.  With the ``u > v``
    invariant the neighborhood grouped on ``u`` is exactly the smaller
    side, so ``m = min(N(u) ∪ {u}) = min(v)``."""
    mins = e.groupBy("u").agg(F.min("v").alias("_m"))
    moved = (e.join(mins, "u")
             .filter(F.col("v") != F.col("_m"))
             .select(F.col("v").alias("u"), F.col("_m").alias("v")))
    root = mins.select("u", F.col("_m").alias("v"))
    return moved.union(root).filter(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, src_col: str = "id_a",
                         dst_col: str = "id_b", *,
                         max_iters: int = 50) -> DataFrame:
    """Connected components over an undirected edge frame; returns
    ``(node, component)`` where ``component`` is the MIN node id of the
    component, for every node that appears in at least one edge.

    Alternating large-star/small-star (Kiveris et al. 2014): both
    rounds strictly preserve connectivity, and the fixed point is a
    forest of stars rooted at each component's minimum — at which point
    the edge set IS the label map.  Convergence is detected with a
    cheap ``(count, hash-sum)`` fingerprint each round and then
    CONFIRMED with an exact ``exceptAll`` check (a fingerprint
    collision could otherwise terminate the loop one round early with
    wrong labels — the confirm makes early termination impossible, at
    the cost of one extra anti-join only on the final round).

    Raises ``RuntimeError`` if not converged within ``max_iters``
    rounds (the algorithm needs O(log n); 50 covers any realistic
    graph — non-convergence means something is wrong, not that more
    rounds are needed).  On success the returned frame carries
    ``_cc_stats = {"rounds", "edges_start", "edges_end"}`` — the
    convergence telemetry an unattended 100 TB run should log.
    """
    # LAZY localCheckpoint pins: the fingerprint aggregate right after
    # each pin is the action that materializes it, so each round runs
    # ONE job (materialize + convergence evidence together) instead of
    # two — at cluster scale that removes a full re-read of the cached
    # edge blocks per round, at gate scale it halves the loop's fixed
    # job overhead (guide §1.2: fewer passes).

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("h")).first()
        return row["n"], row["h"]

    cur = pin(_canonical_edges(edges, src_col, dst_col))
    cur_fp = fingerprint(cur)
    edges_start = cur_fp[0]
    rounds = 0
    converged = False
    for _ in range(max_iters):
        if cur_fp[0] == 0:  # no edges at all — vacuously converged
            converged = True
            break
        nxt = pin(_small_star(_large_star(cur)))
        nxt_fp = fingerprint(nxt)
        rounds += 1
        if nxt_fp == cur_fp and cur.exceptAll(nxt).isEmpty():
            # equal counts + empty one-sided multiset difference
            # ⇒ the distinct sets are identical: true fixed point
            release(cur)
            converged = True
            cur = nxt
            break
        # release the superseded round's blocks NOW, not at the next GC
        # + ContextCleaner sweep (waiting accumulates ~rounds copies of
        # the edge frame in executor storage); nxt is already
        # materialized by its fingerprint, so nothing recomputes
        release(cur)
        cur, cur_fp = nxt, nxt_fp
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "rounds — the alternating algorithm needs O(log n); check "
            "the edge frame for pathological input or raise max_iters")

    # fixed point = stars (child → component-min root); roots label
    # themselves.  groupBy(min) is belt-and-braces against a node
    # appearing in transient multi-edges.
    labels = cur.select(F.col("u").alias("node"),
                        F.col("v").alias("component")) \
        .union(cur.select(F.col("v").alias("node"),
                          F.col("v").alias("component")))
    out = labels.groupBy("node").agg(F.min("component").alias("component"))
    # success telemetry (the audit-companion shape): how many
    # alternating rounds ran and how the edge frame contracted — the
    # numbers a 100 TB operator should report, not just raise on
    out._cc_stats = {"rounds": rounds, "edges_start": edges_start,
                     "edges_end": cur_fp[0]}
    return out


def attach_clusters(df: DataFrame, labels: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Add a ``cluster_id`` column to ``df`` from a
    :func:`connected_components` label frame; documents with no
    near-dup edge (singletons) become their own cluster.  One left
    join — the label frame covers clustered docs only, so AQE
    broadcasts it when small."""
    lab = labels.select(F.col("node").alias(id_col),
                        F.col("component").alias("_comp"))
    return (df.join(lab, id_col, "left")
            .withColumn("cluster_id",
                        F.coalesce(F.col("_comp"), F.col(id_col)))
            .drop("_comp"))


def keep_canonical(df: DataFrame, labels: DataFrame, *,
                   id_col: str = "doc_id",
                   quality_col: Optional[str] = None,
                   clustered_only: bool = True) -> DataFrame:
    """One survivor per cluster: ``(cluster_id, keep_id, n_members)``.

    The survivor is the member with the highest ``quality_col``
    (NULL quality sorts last), ties broken by SMALLEST id — a total
    order, so the choice is deterministic and oracle-comparable.  With
    no ``quality_col`` the survivor is simply the min id (== the
    cluster id itself).  ``clustered_only`` drops singleton clusters
    (size 1), which is what a dedup pass wants — singletons have
    nothing to drop.

    One aggregate shuffle via ``max_by`` over a monotone rank struct —
    partial-aggregable (map-side combine), no window sort, so a
    100 TB corpus pays one pass over ``(cluster_id, quality, id)``
    triples."""
    with_c = attach_clusters(df, labels, id_col)
    # the (max quality, then MIN id) tie-break cannot ride one max_by
    # rank struct for arbitrary orderable id types (min and max point
    # opposite ways), so it is two partial-aggregable stages: min id
    # per (cluster, quality), then max_by quality per cluster — the
    # second stage's input is ≤ one row per distinct quality value per
    # cluster, so quality ties are already resolved when max_by sees it
    if quality_col is None:
        out = with_c.groupBy("cluster_id").agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_members"))
    else:
        q = F.col(quality_col)
        per = with_c.groupBy("cluster_id", quality_col).agg(
            F.min(id_col).alias("_min_id"),
            F.count(F.lit(1)).alias("_n"))
        best = per.groupBy("cluster_id").agg(
            F.max_by(F.col("_min_id"),
                     F.struct(F.col(quality_col).isNotNull().alias("nn"),
                              q.alias("q"))).alias("keep_id"),
            F.sum("_n").alias("n_members"))
        out = best
    out = out.select("cluster_id", "keep_id",
                     F.col("n_members").cast("bigint").alias("n_members"))
    if clustered_only:
        out = out.filter(F.col("n_members") >= 2)
    return out


def cluster_size_stats(labels: DataFrame) -> DataFrame:
    """Cluster-size histogram ``(cluster_size, n_clusters)`` over a
    label frame — the audit companion for cluster resolution (how much
    of the corpus is duplicated, and how big the blobs are).  Sizes
    count CLUSTERED nodes only (labels carry no singletons)."""
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .select(F.col("cluster_size").cast("bigint").alias("cluster_size"),
                    F.col("n_clusters").cast("bigint").alias("n_clusters")))
