"""Structured Streaming validation.

boon validates one document per call; a stream of documents maps naturally
onto Structured Streaming: the row-local validation projection is
STATELESS, so ``Engine.annotate`` applies to a streaming DataFrame
unchanged (micro-batch or continuous).  This module adds the
streaming-native pieces:

* :func:`annotate_stream` — engine projection over a stream;
* :func:`violation_rate` — watermarked tumbling-window aggregation of
  verdict counts (late data handled by the watermark, not dropped
  silently);
* :func:`cumulative_source_state` — a custom stateful operator via
  ``applyInPandasWithState``: per-key running totals of rows/violations
  emitted each micro-batch (the streaming analogue of the per-partition
  manifest metrics).

Scale notes: the projection adds no state; the windowed agg keys are
(window × low-cardinality group) with partial aggregation; state size for
the cumulative operator is O(distinct keys).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..engine import _engine, verdict_aggregates


def annotate_stream(stream_df: DataFrame, spec, *,
                    row_id: Optional[str] = None) -> DataFrame:
    """Per-row verdicts + violations on a streaming DataFrame — the same
    single projection as batch (stateless, no watermark needed).
    ``spec`` is a spec dict or a ``CompiledSchema``."""
    return _engine(spec, row_id).annotate(stream_df)


def dedup_stream(stream_df: DataFrame, keys: list, *, ts_col: str,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup — the cross-batch analogue of
    ``operators.dedup.exact_duplicates``: keeps the first arrival per
    key within the watermark horizon.  State is one entry per distinct
    key inside the horizon and is EVICTED as the watermark advances
    (``dropDuplicatesWithinWatermark``) — unbounded-state dedup over a
    10^12-row stream is exactly the shape that OOMs a state store, so
    the horizon is mandatory."""
    if isinstance(keys, str):
        keys = [keys]  # list('doc_id') would dedup on single letters
    return (stream_df.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def violation_rate(stream_df: DataFrame, spec, *, ts_col: str,
                   window: str = "1 minute",
                   watermark: str = "2 minutes",
                   by: Optional[str] = None,
                   row_id: Optional[str] = None) -> DataFrame:
    """Windowed verdict counts: (window, [by,] n_rows, n_invalid,
    n_violations, invalid_rate) with late-data watermarking."""
    ann = annotate_stream(stream_df, spec, row_id=row_id) \
        .withWatermark(ts_col, watermark)
    keys = [F.window(F.col(ts_col), window).alias("window")]
    if by:
        keys.append(F.col(by))
    # the verdict counts; a window's verdict is its invalid_rate
    _valid, *counts = verdict_aggregates()
    return (ann.groupBy(*keys).agg(*counts)
            .withColumn("invalid_rate",
                        F.col("n_invalid") / F.col("n_rows")))


def stream_to_manifest(stream_df: DataFrame, spec, *, partition_col: str,
                       manifest_path: str, checkpoint: str,
                       violations_path: Optional[str] = None,
                       row_id: Optional[str] = None):
    """Bridge a stream into the batch lineage manifest: each micro-batch
    is validated via ``foreachBatch`` by the annotation pass
    :func:`validate_partitioned` uses, so streaming ingestion lands in
    the SAME resumable manifest a batch backfill uses (one source of
    truth for per-partition verdicts).  ``spec`` is compiled once, when
    this is called: a bad spec raises ``CompileError`` before the query
    starts.

    A micro-batch carries only NEW rows of a partition, so per-partition
    metrics ACCUMULATE across batches (sums of rows/invalid/violations,
    AND of verdicts) and violations are APPENDED — replacing them with
    the latest batch's slice would silently discard everything earlier
    batches recorded about the partition.

    Replay idempotency: Structured Streaming's ``foreachBatch`` is
    at-least-once — after a crash/restart the LAST micro-batch is
    re-delivered with the SAME ``batch_id``.  Each manifest entry carries
    the (run_id, batch_id) pair that last touched it; a partition whose
    entry already records the incoming pair is skipped entirely (no
    re-accumulated counts, no duplicate violation appends).  The run_id
    is the query id from ``<checkpoint>/metadata`` (resolved lazily on
    the first batch): micro-batch ids are per-checkpoint, so a manifest
    reused with a FRESH checkpoint — including one wiped and recreated
    at the SAME path — must not mistake the new query's batch 0 for the
    old run's batch 0 and silently drop it (ADVICE r3).

    Returns the started StreamingQuery.
    """
    handle = manifest_batch_handler(
        spec, partition_col=partition_col, manifest_path=manifest_path,
        violations_path=violations_path, row_id=row_id,
        checkpoint=checkpoint)
    return (stream_df.writeStream
            .foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .start())


def run_id_for_checkpoint(checkpoint: str, spark=None) -> str:
    """Stable identifier for one streaming query INCARNATION: micro-batch
    ids are only unique within a checkpoint, so replay detection must key
    on (run, batch), not batch alone.

    The identity is the query id Structured Streaming persists in
    ``<checkpoint>/metadata`` — regenerated when the checkpoint is wiped
    and recreated, which is precisely the case a path hash gets wrong
    (same path, fresh ids: the new run's batch 0 must NOT look like the
    old run's batch 0).  Read through the Hadoop FS API when a session
    is given (works for s3/hdfs/... checkpoints); the path hash is only
    the fallback while the metadata file DOES NOT EXIST yet.  A metadata
    file that exists but cannot be read or parsed RAISES instead of
    falling back: swallowing a transient read error here would hand two
    different run_ids to the same query across handler incarnations, so
    a replayed batch would be treated as new work and double-accumulate
    its counts (ADVICE r4)."""
    import hashlib
    import json as _json
    if spark is not None:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(checkpoint + "/metadata")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            try:
                stream = fs.open(p)
                try:
                    raw = bytes(
                        jvm.org.apache.commons.io.IOUtils.toByteArray(
                            stream))
                finally:
                    stream.close()
                qid = _json.loads(raw.decode()).get("id")
            except Exception as e:
                raise RuntimeError(
                    f"cannot read streaming-query metadata at "
                    f"{checkpoint}/metadata: {e} — refusing to fall back "
                    "to the path-hash run identity (a transient fallback "
                    "would double-accumulate replayed batches)") from e
            if not qid:
                raise RuntimeError(
                    f"streaming-query metadata at {checkpoint}/metadata "
                    "has no query id — checkpoint is malformed")
            return str(qid)
    return hashlib.sha256(checkpoint.encode()).hexdigest()[:16]


def manifest_batch_handler(spec, *, partition_col: str, manifest_path: str,
                           violations_path: Optional[str] = None,
                           row_id: Optional[str] = None,
                           run_id: str = "",
                           checkpoint: Optional[str] = None,
                           max_partitions: int = 100_000):
    """The ``foreachBatch`` handler behind :func:`stream_to_manifest`,
    exposed so the replay-idempotency contract is directly testable.
    ``spec`` (a spec dict or a ``CompiledSchema``) is compiled once,
    here: a bad spec raises ``CompileError`` before any batch runs.
    Pass either an explicit ``run_id`` (tests) or a ``checkpoint`` path —
    REQUIRED: with neither, every incarnation would stamp run_id ""
    and a wiped-and-recreated checkpoint's batch 0 would be mistaken
    for the old run's batch 0 (the exact collision the run-identity
    machinery exists to prevent).  With a checkpoint, the run identity
    is resolved LAZILY on the first batch from ``<checkpoint>/metadata``
    (the file exists once the query has started; resolving at
    handler-build time would fall back to a path hash, which collides
    when a checkpoint is wiped and recreated at the same path).

    Crash-window design (the foreachBatch contract is at-least-once, so
    every write must be idempotent under redelivery of the same
    (run_id, batch_id)):

    * violations are written per-(partition, batch) with dynamic
      overwrite — a replay rewrites its own output dirs, never appends
      duplicates;
    * prior cumulative counts are merged and the (run_id, batch_id)
      stamp applied in the same entry write — never in a second pass,
      so there is no window where counts exist unstamped and a replay
      double-applies;
    * that write replaces the partition's entry by one atomic rename, so
      a crash leaves the prior entry or the merged one, never both and
      never neither (no lost cumulative counts)."""
    if not run_id and not checkpoint:
        raise ValueError(
            "manifest_batch_handler needs run_id= or checkpoint= — "
            "without a run identity, a manifest that outlives its "
            "checkpoint would silently drop the new query's batch 0 "
            "as a replay of the old one")
    from ..sources.manifest import (ValidationManifest, _validate_pending,
                                    collect_partition_rows, spec_hash)
    eng = _engine(spec, row_id)
    shash = spec_hash(eng.compiled)
    state = {"run_id": run_id}

    def handle(batch_df: DataFrame, batch_id: int):
        rid = state["run_id"]
        if not rid and checkpoint:
            rid = state["run_id"] = \
                run_id_for_checkpoint(checkpoint, batch_df.sparkSession)
        # ONE batch scan serves emptiness, seen-keys, replay detection
        # AND the annotation pass's pruning filter
        vrows = collect_partition_rows(batch_df, partition_col,
                                       max_partitions)
        if not vrows:
            return
        seen = {r._p for r in vrows}
        manifest = ValidationManifest(manifest_path)
        # only this batch's partitions' entries are read
        prior = {p: e for p in seen if (e := manifest.entry(p, shash))}
        # a replayed batch: partitions already stamped with this
        # (run_id, batch_id) pair are excluded from pending, so they are
        # neither re-scanned nor re-counted and their violation dirs are
        # untouched.  A matching batch_id from a DIFFERENT run (fresh
        # checkpoint, ids restarted at 0) is NOT a replay.
        pending = {p for p in seen
                   if prior.get(p, {}).get("batch_id") != batch_id
                   or prior.get(p, {}).get("run_id") != rid}
        if not pending:
            return
        metrics = _validate_pending(batch_df, partition_col, vrows,
                                    pending, eng, violations_path,
                                    batch=f"{rid}-{batch_id}")
        for p, m in metrics.items():
            old = prior.get(p)
            if old:
                m = {"n_rows": m["n_rows"] + old["n_rows"],
                     "n_invalid": m["n_invalid"] + old["n_invalid"],
                     "n_violations":
                         m["n_violations"] + old["n_violations"],
                     "valid": m["valid"] and bool(old["valid"])}
            # merged counts and the stamp land in ONE entry write
            manifest.record(p, shash,
                            {**m, "batch_id": batch_id, "run_id": rid})

    return handle


STATE_SCHEMA = "total_rows long, total_invalid long"
OUTPUT_SCHEMA = ("key string, batch_rows long, total_rows long, "
                 "total_invalid long")


def _cumulate(key, pdfs, state: GroupState):
    batch_rows = 0
    batch_invalid = 0
    for pdf in pdfs:
        batch_rows += len(pdf)
        batch_invalid += int((~pdf["valid"]).sum())
    if state.exists:
        total_rows, total_invalid = state.get
    else:
        total_rows, total_invalid = 0, 0
    total_rows += batch_rows
    total_invalid += batch_invalid
    state.update((total_rows, total_invalid))
    yield pd.DataFrame([{
        "key": key[0], "batch_rows": batch_rows,
        "total_rows": total_rows, "total_invalid": total_invalid}])


def cumulative_source_state(stream_df: DataFrame, spec, *, key_col: str,
                            row_id: Optional[str] = None) -> DataFrame:
    """Running per-key totals of rows/invalid rows across micro-batches —
    a custom stateful operator via ``applyInPandasWithState`` (Arrow
    batches, state is a 2-tuple per key)."""
    ann = annotate_stream(stream_df, spec, row_id=row_id) \
        .select(F.col(key_col).cast("string").alias("_key"), "valid")
    return (ann.groupBy("_key")
            .applyInPandasWithState(
                _cumulate, OUTPUT_SCHEMA, STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))
