"""Resumable per-partition validation with a lineage manifest.

The north_rule requires: per-partition pass/fail verdicts + violation rows,
"checkpointing validated-partition lineage and metrics to a resumable
manifest so reruns skip completed partitions".  boon has no analogue
(single-instance validation) — this is the genuinely new engineering of
SURVEY.md §7 step 5.

Design (scale-first):

* every *pending* partition is validated by one filtered scan:
  completed partitions are excluded with a partition-column filter,
  which Catalyst pushes into the scan (partition pruning on
  Iceberg/hive-layout tables — skipped partitions are never read, not
  read-and-dropped);
* the job shape is: one scan for the distinct partition keys; one
  annotation pass — the violations write — which evaluates the
  ``valid`` + violation-detail projection once and fills a narrow
  persisted pin (partition key, ``valid``, ``violation_count``, and
  violation structs only for failing rows); then the per-partition
  metrics, a single ``groupBy(partition_col)`` over the pin (map-side
  combine; partition count is small).  The pin is released before
  :func:`validate_partitioned` returns.  Without ``violations_path``
  the metrics aggregate is the only consumer, so it is the annotation
  pass and nothing is pinned;
* violations land under ``violations_path`` partitioned by the same
  column, so each partition's output is independently replaceable
  (``partitionOverwriteMode=dynamic``);
* the manifest itself is one tiny parquet file per (spec hash,
  partition), named by both (``<spec_hash>-<sha256(key)[:32]>.parquet``)
  and swapped into place by ``os.replace`` on the driver (pyarrow, no
  Spark job): a crash leaves the old entry or the new one, never two or
  none, and a resume check lists the directory, reading no entry;
* a manifest entry records the **spec hash** (:func:`spec_hash` of the
  compiled schema): it covers the spec, the compile options the spec
  does not set inline (``assert_format``, ``assert_content``,
  ``default_draft``), ``fragment`` and every resource document the
  compile read, pre-supplied or loaded.  Rerunning with a changed
  constraint suite, option or ``$ref``'d document invalidates prior
  completions automatically; a spec compiled with default options and
  no outside resource hashes as the spec alone;
* the batch report (:func:`validate_partitioned`) and the streaming
  bridge (``streaming.validate_stream.manifest_batch_handler``) share
  one annotation pass, :func:`_validate_pending`; each keeps its own
  policy for which partitions are pending and how entries are written.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import Engine, _engine, verdict_aggregates, violation_rows
from ..operators import _ckpt
from ..schema import CompiledSchema


def spec_hash(spec) -> str:
    """The manifest identity of a spec dict or a :class:`CompiledSchema`
    (its ``identity``: the spec plus whatever else the compile read).
    ``spec_hash(spec) == spec_hash(compile_schema(spec))`` for a spec
    compiled with default options and no outside resource."""
    if isinstance(spec, CompiledSchema):
        spec = spec.identity
    return hashlib.sha256(
        json.dumps(spec, sort_keys=True, default=str).encode()).hexdigest()[:16]


_ENTRY = re.compile(r"[0-9a-f]{16}-[0-9a-f]{32}\.parquet")


def _name(partition, shash: str) -> str:
    """An entry's file name: its identity, (spec hash, partition key)."""
    key = hashlib.sha256(str(partition).encode()).hexdigest()[:32]
    return f"{shash}-{key}.parquet"


class ValidationManifest:
    """Lineage of validated partitions: one entry file per (spec hash,
    partition), replaced in place."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # keyed lookups miss entries of the older random-suffix layout,
        # so streaming counts would silently restart from zero: refuse
        alien = sorted(f for f in os.listdir(path)
                       if f.endswith(".parquet") and not f.startswith(".")
                       and not _ENTRY.fullmatch(f))
        if alien:
            raise ValueError(
                f"manifest {path!r} holds entries of an older layout "
                f"({', '.join(alien)}); use a fresh manifest directory")

    def entries(self) -> list[dict]:
        import pyarrow.parquet as pq
        return [row for f in sorted(os.listdir(self.path))
                if _ENTRY.fullmatch(f)
                for row in pq.read_table(
                    os.path.join(self.path, f)).to_pylist()]

    def entry(self, partition, shash: str) -> Optional[dict]:
        """The partition's entry under ``shash``, or None."""
        import pyarrow.parquet as pq
        f = os.path.join(self.path, _name(partition, shash))
        return pq.read_table(f).to_pylist()[0] if os.path.exists(f) else None

    def completed(self, shash: str, keys) -> set[str]:
        """The ``keys`` with an entry under ``shash``: one directory
        listing, no entry read."""
        names = set(os.listdir(self.path))
        return {k for k in keys if _name(k, shash) in names}

    def record(self, partition: str, shash: str, metrics: dict) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        row = {
            "partition": str(partition),
            "status": "complete",
            "spec_hash": shash,
            "n_rows": int(metrics.get("n_rows", 0)),
            "n_invalid": int(metrics.get("n_invalid", 0)),
            "n_violations": int(metrics.get("n_violations", 0)),
            "valid": bool(metrics.get("valid", False)),
            # last streaming micro-batch applied to this entry (-1 for
            # batch jobs): foreachBatch replays after a crash re-deliver
            # the same batch_id, and the streaming bridge uses this to
            # skip re-accumulating an already-applied batch
            "batch_id": int(metrics.get("batch_id", -1)),
            # the streaming run that applied that batch: batch ids are
            # per-checkpoint, so replay detection keys on (run, batch) —
            # a fresh checkpoint's batch 0 is new work, not a replay
            "run_id": str(metrics.get("run_id", "")),
            "finished_at": time.time(),
        }
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        pq.write_table(pa.Table.from_pylist([row]), tmp)
        # atomic on POSIX: a crash leaves the old entry or the new one
        os.replace(tmp, os.path.join(self.path, _name(partition, shash)))

    def invalidate(self, partition: str) -> None:
        """Drop the partition's lineage under every spec hash (forces
        recompute on the next run)."""
        suffix = _name(partition, "")  # "-<key>.parquet"
        for f in os.listdir(self.path):
            if f.endswith(suffix):
                os.remove(os.path.join(self.path, f))


NULL_PARTITION = "__null__"


def partition_key_col(partition_col: str):
    """THE manifest partition-key expression: Spark cast-to-string with
    the ``__null__`` sentinel for SQL NULL.  Every reader and writer of
    manifest keys must derive them through this one helper — a drifted
    copy (e.g. Python ``str()`` producing "None"/"True" where the
    manifest holds "__null__"/"true") makes a re-seen partition look
    permanently complete and silently skips its rows."""
    return F.coalesce(F.col(partition_col).cast("string"),
                      F.lit(NULL_PARTITION))


def collect_partition_rows(df: DataFrame, partition_col: str,
                           max_partitions: int) -> list:
    """Distinct ``(_v = native value, _p = manifest key)`` rows of a
    frame, with the loud high-cardinality guard (the driver-side
    collect a ``doc_id`` partition column would otherwise OOM).  Shared
    by :func:`validate_partitioned` and the streaming bridge so each
    micro-batch pays this scan ONCE."""
    rows = (df.select(F.col(partition_col).alias("_v"),
                      partition_key_col(partition_col).alias("_p"))
            .distinct().limit(max_partitions + 1).collect())
    if len(rows) > max_partitions:
        raise ValueError(
            f"partition column {partition_col!r} has more than "
            f"{max_partitions} distinct values — not a partition column; "
            f"pick a coarser column or raise max_partitions")
    return rows


def _remove_stale_violations(violations_path: str, partition_col: str,
                             pending: set) -> None:
    """Delete existing violation output dirs for partitions about to be
    re-validated — dynamic partition overwrite never touches a partition
    that produces ZERO rows, so a now-clean partition would otherwise
    keep its stale violation files forever.  Local-filesystem best
    effort (object-store paths are left to the overwrite)."""
    import shutil
    from urllib.parse import unquote

    if not os.path.isdir(violations_path):
        return
    prefix = f"{partition_col}="
    for d in os.listdir(violations_path):
        if not d.startswith(prefix):
            continue
        val = unquote(d[len(prefix):])
        key = NULL_PARTITION if val == "__HIVE_DEFAULT_PARTITION__" else val
        if key in pending:
            shutil.rmtree(os.path.join(violations_path, d),
                          ignore_errors=True)


def validate_partitioned(spark: SparkSession, df: DataFrame, spec,
                         partition_col: str, manifest_path: str, *,
                         violations_path: Optional[str] = None,
                         row_id: Optional[str] = None,
                         max_partitions: int = 100_000) -> dict:
    """Validate all pending partitions of ``df``; returns
    ``{"pending": [...], "skipped": [...], "metrics": {partition: {...}}}``.

    ``spec`` is a spec dict, compiled once here with its inline options
    (as :func:`validate_table` does), or a :class:`CompiledSchema`,
    used as given (the CLI passes the one its ``$ref`` loader built).
    A partition is complete when an entry carries this schema's
    :func:`spec_hash`, which covers the spec, the compile options it
    does not set inline, ``fragment`` and every outside resource
    document the compile read.  A spec compiled with default options
    and no outside resource hashes as the spec alone.

    Spark work: one scan for the distinct partition keys, then one
    annotation pass over the pending partitions.  With
    ``violations_path`` that pass is the violations write, which fills
    a narrow persisted pin of (key, ``valid``, ``violations``,
    ``violation_count``); the metrics aggregate reads the pin, which is
    released before this returns.  Without it, the metrics aggregate is
    the annotation pass.

    Rerunning after a partial failure (or after
    ``ValidationManifest.invalidate(p)``) recomputes only the partitions
    without a matching manifest entry.

    ``max_partitions`` guards the driver-side collect of distinct
    partition values: a manifest keyed by a high-cardinality column
    (someone passing ``doc_id``) would otherwise OOM the driver and
    produce a useless million-entry manifest — fail loudly instead.
    """
    eng = _engine(spec, row_id)
    shash = spec_hash(eng.compiled)
    manifest = ValidationManifest(manifest_path)
    key_rows = collect_partition_rows(df, partition_col, max_partitions)
    keys = {r._p for r in key_rows}
    done = manifest.completed(shash, keys)
    pending, skipped = sorted(keys - done), sorted(keys & done)
    if not pending:
        return {"pending": [], "skipped": skipped, "metrics": {}}
    if violations_path:
        # dynamic overwrite only touches partitions that produce rows —
        # a re-validated partition that is now CLEAN would keep its
        # stale violation files, so pending partitions' old output is
        # removed first (local-fs best effort; on object stores,
        # downstream reads should treat the MANIFEST as the verdict
        # source of truth)
        _remove_stale_violations(violations_path, partition_col,
                                 set(pending))
    metrics = _validate_pending(df, partition_col, key_rows, pending, eng,
                               violations_path)
    for p, m in metrics.items():
        manifest.record(p, shash, m)
    return {"pending": pending, "skipped": skipped, "metrics": metrics}


def _validate_pending(df: DataFrame, partition_col: str, key_rows: list,
                     pending, eng: Engine,
                     violations_path: Optional[str],
                     batch: Optional[str] = None) -> dict:
    """The annotation pass shared by the batch report and the streaming
    bridge: validates the ``pending`` partition keys of ``df``, writes
    their violations, and returns ``{partition: metrics}``.  Records
    nothing — which partitions are pending and how entries are written
    is the caller's policy.

    ``key_rows`` is :func:`collect_partition_rows` output.  ``batch``
    adds a ``_vbatch`` literal column and partitions violations by
    (partition_col, _vbatch), so a replayed micro-batch dynamically
    overwrites exactly its own output dirs (a deterministic batch
    re-produces the same rows) and never touches earlier batches."""
    # the pruning filter compares the column in its NATIVE type — an
    # isin over cast-to-string does not convert to an Iceberg/hive
    # partition predicate, so skipped partitions would be scanned and
    # discarded row-by-row instead of pruned.  A string key can stand
    # for SEVERAL native values (e.g. decimal scale variants rendering
    # to the same text): all of them are kept, or some rows would go
    # unvalidated while the key is recorded complete.  isin() never
    # matches SQL NULL, so NULL gets its own IS NULL arm.
    pending = set(pending)
    mine = [r._v for r in key_rows if r._p in pending]
    cond = F.col(partition_col).isin([v for v in mine if v is not None])
    if None in mine:
        cond = cond | F.col(partition_col).isNull()
    ann = eng.annotate(df.filter(cond))

    # the scope owns the pin: released before this returns, exception
    # path included (thread-local, so foreachBatch threads are covered)
    with _ckpt.scope():
        if violations_path:
            # two consumers — the violations write and the metrics
            # aggregate — so the projection is evaluated once: the write
            # fills the pin, the aggregate reads its cached blocks.  The
            # pin is narrow (key, flag, count, and violation structs
            # only on failing rows; never the input's own columns such
            # as `tokens`).  Persist, not a lazy checkpoint: the frame is
            # row-sized, not count-sized, persisted blocks recompute from
            # lineage if an executor is lost mid-report, and it cost no
            # more (4 cores, 100k-row report, call CPU: persist
            # 14.7/13.8/14.1 s vs checkpoint 14.6/15.6/15.8 s).
            ann = _ckpt.pin(ann.select(partition_col, "valid",
                                       "violations", "violation_count"),
                            _ckpt.StorageLevel.MEMORY_AND_DISK)
            vio = violation_rows(ann, partition_col).select(
                partition_col, "instance_location", "keyword_location",
                "error")
            layout = [partition_col]
            if batch is not None:
                vio = vio.withColumn("_vbatch", F.lit(batch))
                layout.append("_vbatch")
            (vio.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*layout)
                .parquet(violations_path))

        rows = (ann.groupBy(partition_key_col(partition_col).alias("_p"))
                .agg(*verdict_aggregates()).collect())
    return {r._p: {"n_rows": r.n_rows, "n_invalid": r.n_invalid,
                   "n_violations": r.n_violations, "valid": r.valid}
            for r in rows}
