"""The two workloads.  Each one generates its inputs from the seed,
computes the expected outputs with DuckDB, warms up, and then exposes
``call(call_id)``: one timed unit of user-visible work whose every
output is checked.

Why these two (each exercises layers the other bypasses, so a change to
one layer has a workload that should move and one that should not):

* ``partition_report`` -- the per-partition report over a high-dirt,
  day-partitioned sequences table: the ``valid`` projection,
  violation-detail stage, parquet writer, manifest,
  uniqueness/referential shuffles, and a manifest resume.  No operator,
  no Python UDF.
* ``curation_mix`` -- three curation operators from
  ``__spark_entry__.queries()`` over small tables, where driver-side job
  submission, Catalyst planning, Arrow Python UDFs and persist pins
  dominate and the row-local validator does almost nothing.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import expect, inputs
from perfbench.spans import CpuClock

# rows per size; "small" is the smoke mode.  curation_mix: (documents,
# embeddings, events)
SIZES = {
    "partition_report": {"full": 100_000, "small": 20_000},
    "curation_mix": {"full": (500, 200, 10_000), "small": (200, 200, 500)},
}
# the operators a curation_mix pass runs (the README says why these)
CURATION_QUERIES = ("lm3_score", "embedding_near_dups",
                    "content_json_events")


class Workload:
    """``rows``: input rows one call reads; ``table_bytes``: parquet bytes
    of the input on disk; ``setup_split``: seconds of each set-up step."""

    # the timed phase lasts --seconds but makes at least this many calls;
    # the first costs up to ~10 % more CPU than later ones, and the median
    # of three leaves it out
    min_calls = 3

    def __init__(self, work: str, seed: int, size: str,
                 checker: expect.Checker):
        self.work, self.seed, self.size = work, seed, size
        self.checker = checker
        self.cpu = CpuClock(exclude=checker.pid)
        self.spark = self.tracer = None
        self.rows = 0
        self.table_bytes = 0
        self.setup_split: dict[str, float] = {}

    def step(self, fn) -> None:
        """Run one set-up step and record its seconds."""
        t0 = time.perf_counter()
        fn()
        self.setup_split[f"{fn.__name__}_s"] = time.perf_counter() - t0

    def setup(self, spark, tracer) -> None:
        """Compute the expected outputs and warm up on the inputs
        ``generate`` wrote while the session started; every call of the
        run reuses them."""
        self.spark, self.tracer = spark, tracer
        self.step(self.expect)
        self.step(self.warm_up)
        self.table_bytes = inputs.dir_bytes(self.path)

    def _check(self, fails: list, what: str, got, want) -> None:
        if got != want:
            fails.append(f"{what}: got {str(got)[:200]} want "
                         f"{str(want)[:200]}")

    def leftover_rdds(self) -> int:
        return self.spark.sparkContext._jsc.sc().getPersistentRDDs().size()


class PartitionReport(Workload):
    """The timed calls read a table of ``rows`` rows; the warm-up call
    runs the same plans over a table of a tenth the size and the same
    shape (from the next seed)."""

    # its first timed call costs only ~3 % more CPU than later ones, and
    # a third call made loaded runs too long for the run budget
    min_calls = 2

    def generate(self) -> None:
        self.rows = SIZES["partition_report"][self.size]
        self.path = os.path.join(self.work, "dirty_sequences")
        self.warm_path = os.path.join(self.work, "warm_sequences")
        inputs.write_dirty_sequences(self.path, self.rows, self.seed)
        inputs.write_dirty_sequences(self.warm_path, self.rows // 10,
                                     self.seed + 1)

    def expect(self) -> None:
        """Start DuckDB on the expected outputs; the warm-up call runs
        while it works."""
        self.tables = {
            name: (self.spark.read.parquet(path), self.checker.submit(
                "partition_report", f"read_parquet('{path}/*/*.parquet', "
                                    f"hive_partitioning = true)"))
            for name, path in (("warm", self.warm_path),
                               ("timed", self.path))}

    def warm_up(self) -> None:
        """One call pays the session's one-off costs (class loading, code
        generation, compiling the driver's hot methods); on the small
        table it costs less than on the timed one."""
        fails = self.call("warmup", "warm")["failed"]
        if fails:
            raise RuntimeError(f"warm-up call failed: {fails[0]}")

    def _validate(self, df, out: str) -> dict:
        from boon_spark.sources.manifest import validate_partitioned
        from boon_spark.sources.tables import sequences_spec
        return validate_partitioned(
            self.spark, df, sequences_spec(), "day",
            os.path.join(out, "manifest"),
            violations_path=os.path.join(out, "violations"),
            row_id="doc_id")

    def call(self, call_id: str, table: str = "timed") -> dict:
        from boon_spark import validate_table
        from boon_spark.sources.manifest import ValidationManifest
        from boon_spark.sources.tables import sequences_spec, sources_dim
        tr = self.tracer
        df, want = self.tables[table]
        out = os.path.join(self.work, "calls", call_id)
        with tr.job_group(call_id):
            c0, t0 = self.cpu(), time.perf_counter()
            with tr.span("manifest.validate_partitioned", call_id):
                report = self._validate(df, out)
            with tr.span("engine.validate_table", call_id):
                vt = validate_table(
                    df, sequences_spec(), row_id="doc_id",
                    dims={"sources": sources_dim(self.spark)})
                for key in ("unique", "referential", "invariant"):
                    frame = vt[f"{key}_violations"]
                    frame.write.parquet(os.path.join(out, key))
                    tr.planned(frame)
            wall, cpu = time.perf_counter() - t0, self.cpu() - c0
            with tr.span("manifest.resume", call_id):
                t1 = time.perf_counter()
                resume = self._validate(df, out)
                resume_s = time.perf_counter() - t1

        fails = []
        want = want.get()
        self._check(fails, "partition metrics", report["metrics"],
                    want["metrics"])
        self._check(fails, "violations per (day, keyword)",
                    self.checker.run("written_violations",
                                     os.path.join(out, "violations")),
                    want["per_keyword"])
        q = lambda sql: self.checker.run("fetchone", sql)  # noqa: E731
        self._check(fails, "unique", q(
            f"SELECT count(*), coalesce(sum(dup_count), 0) FROM "
            f"read_parquet('{out}/unique/*.parquet')"),
            (want["unique_keys"], want["unique_rows"]))
        for key in ("referential", "invariant"):
            self._check(fails, key, q(
                f"SELECT count(*) FROM read_parquet('{out}/{key}/*.parquet')"
            )[0], want[key])
        days = sorted(want["metrics"])
        self._check(fails, "resume", (resume["pending"], resume["skipped"]),
                    ([], days))
        entries = len(ValidationManifest(os.path.join(out, "manifest"))
                      .entries())
        self._check(fails, "manifest entries", entries, len(days))
        shutil.rmtree(out)
        return {"wall_s": wall, "cpu_s": cpu, "attempted": 1,
                "failed": fails, "groups": {call_id: None},
                "layers": {"manifest.entries": entries,
                           "manifest.rescanned_partitions":
                               len(resume["pending"]),
                           "manifest.resume_s": resume_s}}


class CurationMix(Workload):
    """One call is a pass over ``CURATION_QUERIES`` in a seed-permuted
    order.  The first run of an operator in a session compiles its plans,
    so an untimed warm-up pass takes 2-3x a later one; the timed passes
    are the later ones."""

    def generate(self) -> None:
        docs, vecs, events = SIZES["curation_mix"][self.size]
        self.rows = docs + vecs + events
        self.path = os.path.join(self.work, "curation")
        inputs.write_curation_tables(self.path, self.seed, docs, vecs, events)

    def expect(self) -> None:
        import __spark_entry__ as entry
        oracles = entry.oracle_sql()
        # DuckDB computes the expected rows while the warm-up pass runs
        self.want = self.checker.submit(
            "curation", self.path, {q: oracles[q] for q in CURATION_QUERIES})
        self.queries = entry.queries()
        self.order = list(CURATION_QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def warm_up(self) -> None:
        self._start_workers()
        fails = self.call("warmup")["failed"]
        if fails:
            raise RuntimeError(f"warm-up pass failed: {fails[0]}")

    def _start_workers(self) -> None:
        """Start one Python worker per core with the operators' modules
        imported, so no timed pass waits for a worker to start."""
        from pyspark.sql.functions import pandas_udf
        cpus = self.spark.sparkContext.defaultParallelism

        @pandas_udf("long")
        def ready(s):
            import boon_spark.operators.dedup  # noqa: F401
            import boon_spark.operators.lm  # noqa: F401
            import boon_spark.operators.tokens  # noqa: F401
            time.sleep(0.5)  # so every task runs at once, each in a worker
            return s

        self.spark.range(0, cpus, 1, cpus).select(ready("id")).collect()

    def call(self, call_id: str) -> dict:
        tr = self.tracer
        wall = cpu = 0.0
        fails, layers, groups, got = [], {}, {}, {}
        for q in self.order:
            group = f"{call_id}/{q}"
            groups[group] = q
            try:
                with tr.job_group(group), tr.span(f"query/{q}", call_id):
                    c0, t0 = self.cpu(), time.perf_counter()
                    sdf = self.queries[q](self.spark, self.path)
                    rows = sdf.collect()
                    dt = time.perf_counter() - t0
                    cpu += self.cpu() - c0
            except Exception as e:  # counted as a failed call, run goes on
                fails.append(f"{q}: raised {type(e).__name__}: {e}"[:300])
                continue
            wall += dt
            layers[f"operators.{q}.call_s"] = dt
            tr.planned(sdf)
            got[q] = (sorted(sdf.columns), expect.norm_rows(sdf.columns, rows))
        want = self.want.get()
        for q, result in got.items():
            self._check(fails, q, result, want[q])
        return {"wall_s": wall, "cpu_s": cpu, "attempted": len(self.order),
                "failed": fails, "groups": groups, "layers": layers}


WORKLOADS = {"partition_report": PartitionReport,
             "curation_mix": CurationMix}
