"""Structured Streaming validation tests: file source + availableNow
trigger into a memory sink (deterministic, no wall-clock dependence)."""

import os

import pytest
from pyspark.sql import functions as F

from boon_spark.streaming.validate_stream import (annotate_stream,
                                                  cumulative_source_state,
                                                  violation_rate)

SPEC = {"properties": {"n_tok": {"minimum": 1, "maximum": 100}},
        "required": ["doc_id"]}
DDL = "doc_id string, n_tok int, source string, ts timestamp"


@pytest.fixture()
def input_dir(spark, tmp_path):
    rows = [(f"d{i}", (i % 150) + 1, ["web", "books"][i % 2],
             f"2024-01-01 00:{i % 60:02d}:00") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, "
                               "source string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    # two files → two micro-batches with maxFilesPerTrigger=1
    path = str(tmp_path / "in")
    df.filter(F.col("doc_id") < "d6").coalesce(1).write.parquet(
        path + "/part1")
    df.filter(F.col("doc_id") >= "d6").coalesce(1).write.parquet(
        path + "/part2")
    return path


def _read_stream(spark, input_dir, per_trigger=None):
    r = spark.readStream.schema(DDL).option("recursiveFileLookup", "true")
    if per_trigger:
        r = r.option("maxFilesPerTrigger", per_trigger)
    return r.parquet(input_dir)


def _run(q_df, name, out_mode="append"):
    q = (q_df.writeStream.format("memory").queryName(name)
         .outputMode(out_mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return q


def test_annotate_stream_verdicts(spark, input_dir):
    ann = annotate_stream(_read_stream(spark, input_dir), SPEC,
                          row_id="doc_id")
    assert ann.isStreaming
    _run(ann.select("doc_id", "valid", "violation_count"), "t_ann")
    rows = spark.sql("select * from t_ann").collect()
    assert len(rows) == 120
    bad = [r for r in rows if not r.valid]
    assert len(bad) == sum(1 for i in range(120) if (i % 150) + 1 > 100)


def test_violation_rate_windows(spark, input_dir):
    vr = violation_rate(_read_stream(spark, input_dir), SPEC,
                        ts_col="ts", window="10 minutes",
                        by="source", row_id="doc_id")
    # complete mode emits every window including the one the watermark
    # hasn't closed yet (append mode would withhold the final window —
    # correct late-data semantics, but we assert totals here)
    _run(vr, "t_rate", out_mode="complete")
    rows = spark.sql("select * from t_rate").collect()
    assert sum(r.n_rows for r in rows) == 120
    assert all(0.0 <= r.invalid_rate <= 1.0 for r in rows)
    assert {r.source for r in rows} == {"web", "books"}


def test_streaming_entry_points_take_a_compiled_schema(spark, input_dir):
    from boon_spark.schema import compile_schema
    compiled = compile_schema(SPEC)
    stream = _read_stream(spark, input_dir)
    assert annotate_stream(stream, compiled).isStreaming
    assert cumulative_source_state(stream, compiled,
                                   key_col="source").isStreaming
    _run(violation_rate(stream, compiled, ts_col="ts",
                        window="10 minutes"), "t_rate_compiled",
         out_mode="complete")
    rows = spark.sql("select * from t_rate_compiled").collect()
    assert (sum(r.n_rows for r in rows),
            sum(r.n_invalid for r in rows)) == (120, 20)


def test_cumulative_state_across_batches(spark, input_dir, tmp_path):
    st = cumulative_source_state(
        _read_stream(spark, input_dir, per_trigger=1), SPEC,
        key_col="source", row_id="doc_id")
    q = (st.writeStream.format("memory").queryName("t_state")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from t_state").collect()
    # one emission per key per micro-batch; totals accumulate
    per_key = {}
    for r in rows:
        per_key.setdefault(r.key, []).append(r)
    assert set(per_key) == {"web", "books"}
    for key, emissions in per_key.items():
        finals = max(e.total_rows for e in emissions)
        assert finals == 60
        assert sum(e.batch_rows for e in emissions) == 60


def test_stream_to_manifest(spark, input_dir, tmp_path):
    from boon_spark.sources.manifest import ValidationManifest
    from boon_spark.streaming.validate_stream import stream_to_manifest

    q = stream_to_manifest(
        _read_stream(spark, input_dir), SPEC, partition_col="source",
        manifest_path=str(tmp_path / "m"), checkpoint=str(tmp_path / "ck"),
        violations_path=str(tmp_path / "v"), row_id="doc_id")
    # availableNow semantics via manual stop after the data drains
    import time
    deadline = time.time() + 120
    while time.time() < deadline:
        entries = ValidationManifest(str(tmp_path / "m")).entries()
        if sum(e["n_rows"] for e in entries) >= 120:
            break
        time.sleep(1)
    q.stop()
    entries = ValidationManifest(str(tmp_path / "m")).entries()
    by_part = {e["partition"]: e for e in entries}
    assert set(by_part) == {"web", "books"}
    assert sum(e["n_rows"] for e in by_part.values()) == 120
    assert os.path.isdir(tmp_path / "v" / "source=web")


def test_batch_partition_keys_match_manifest_convention(spark):
    # regression: invalidate() must receive the SAME key string that
    # validate_partitioned records — Spark cast-to-string + "__null__"
    # sentinel, never Python str() ("None"/"True"/"1.5" mismatches)
    from boon_spark.sources.manifest import collect_partition_rows

    def keys(df):
        return sorted(r._p for r in collect_partition_rows(df, "p", 100))

    df = spark.createDataFrame(
        [(None,), (True,), (False,)], "p boolean")
    assert keys(df) == ["__null__", "false", "true"]
    df2 = spark.createDataFrame([(1.5,), (None,)], "p double")
    assert keys(df2) == ["1.5", "__null__"]


def test_manifest_batch_replay_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: after a crash the LAST micro-batch is
    # re-delivered with the same batch_id.  Replays must not double-count
    # metrics or duplicate violation rows (ADVICE r2, medium).
    from boon_spark.sources.manifest import ValidationManifest
    from boon_spark.streaming.validate_stream import manifest_batch_handler

    handle = manifest_batch_handler(
        SPEC, partition_col="source", manifest_path=str(tmp_path / "m"),
        violations_path=str(tmp_path / "v"), row_id="doc_id",
        run_id="test-run")
    # n_tok 80..119: rows past 100 violate `maximum`, so the violations
    # sink exists from batch 0 onward
    rows = [(f"d{i}", i + 80, ["web", "books"][i % 2])
            for i in range(40)]
    b0 = spark.createDataFrame(
        rows, "doc_id string, n_tok int, source string")

    def snapshot():
        entries = ValidationManifest(str(tmp_path / "m")).entries()
        viols = spark.read.parquet(str(tmp_path / "v")).count()
        return ({e["partition"]: (e["n_rows"], e["n_invalid"],
                                  e["n_violations"], e["batch_id"])
                 for e in entries}, viols)

    handle(b0, 0)
    first = snapshot()
    assert sum(v[0] for v in first[0].values()) == 40
    handle(b0, 0)  # replayed batch: same batch_id
    assert snapshot() == first, "replay double-counted"

    # a genuinely NEW batch still accumulates
    b1 = spark.createDataFrame(
        [("dX", 999, "web")], "doc_id string, n_tok int, source string")
    handle(b1, 1)
    after, viols_after = snapshot()
    assert after["web"][0] == first[0]["web"][0] + 1
    assert viols_after == first[1] + 1  # n_tok=999 violates maximum
    assert after["web"][3] == 1 and after["books"][3] == 0
    # and replaying THAT batch is also a no-op
    handle(b1, 1)
    assert snapshot() == (after, viols_after)


def test_manifest_batch_handler_leaves_no_pins(spark, tmp_path,
                                              monkeypatch):
    # every micro-batch pins its annotated frame once (write + metrics)
    # and releases it before the handler returns; a replay pins nothing
    from boon_spark.operators import _ckpt
    from boon_spark.streaming.validate_stream import manifest_batch_handler

    pins, real = [], _ckpt.pin

    def spy(df, level=None):
        pins.append(level)
        return real(df, level)
    monkeypatch.setattr(_ckpt, "pin", spy)
    handle = manifest_batch_handler(
        SPEC, partition_col="source", manifest_path=str(tmp_path / "m"),
        violations_path=str(tmp_path / "v"), row_id="doc_id",
        run_id="test-run")
    b0 = spark.createDataFrame(
        [(f"d{i}", i + 80, ["web", "books"][i % 2]) for i in range(40)],
        "doc_id string, n_tok int, source string")
    b1 = spark.createDataFrame(
        [("dX", 999, "web")], "doc_id string, n_tok int, source string")

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for batch, batch_id, n_pins in ((b0, 0, 1), (b0, 0, 1), (b1, 1, 2),
                                    (b1, 1, 2)):
        before = persistent()
        handle(batch, batch_id)
        assert len(pins) == n_pins
        # a set difference: the context cleaner may drop an unrelated
        # unreferenced RDD meanwhile, which is not a leak
        assert persistent() - before == set(), f"batch {batch_id} leaked"


def test_manifest_batch_handler_builds_the_plan_once(spark, tmp_path,
                                                     monkeypatch):
    # the handler compiles once; the plan is built on the first batch and
    # re-used by every later batch of the same schema, with the same
    # metrics and violation rows as a handler that rebuilds every batch
    import boon_spark.engine as engine
    from boon_spark.plans.builder import PlanBuilder
    from boon_spark.sources.manifest import ValidationManifest
    from boon_spark.streaming.validate_stream import manifest_batch_handler

    builds, depth, real = [], [0], PlanBuilder.build

    def counted(self, *a, **kw):   # outer calls only: build recurses
        if depth[0] == 0:
            builds.append(1)
        depth[0] += 1
        try:
            return real(self, *a, **kw)
        finally:
            depth[0] -= 1
    monkeypatch.setattr(PlanBuilder, "build", counted)
    monkeypatch.setattr(engine, "_plans", {})
    batches = [spark.createDataFrame(
        [(f"b{b}d{i}", (i * 37 + b) % 150, ["web", "books", "news"][i % 3])
         for i in range(10 + b)], "doc_id string, n_tok int, source string")
        for b in range(4)]

    def run(name, rebuild):
        handle = manifest_batch_handler(
            SPEC, partition_col="source",
            manifest_path=str(tmp_path / name / "m"),
            violations_path=str(tmp_path / name / "v"), row_id="doc_id",
            run_id="test-run")
        per_batch = []
        for batch_id, batch in enumerate(batches):
            if rebuild:
                engine._plans.clear()
            n = len(builds)
            handle(batch, batch_id)
            per_batch.append(len(builds) - n)
        entries = sorted((e["partition"], e["n_rows"], e["n_invalid"],
                          e["n_violations"], e["valid"])
                         for e in ValidationManifest(
                             str(tmp_path / name / "m")).entries())
        viols = sorted(tuple(r) for r in spark.read.parquet(
            str(tmp_path / name / "v")).collect())
        return per_batch, entries, viols

    memo_builds, memo_entries, memo_viols = run("memo", rebuild=False)
    assert memo_builds == [1, 0, 0, 0]
    fresh_builds, fresh_entries, fresh_viols = run("fresh", rebuild=True)
    assert fresh_builds == [1, 1, 1, 1]
    assert memo_entries == fresh_entries and memo_viols == fresh_viols
    assert memo_viols


def test_manifest_new_run_batch_zero_is_not_a_replay(spark, tmp_path):
    # ADVICE r3: batch ids are per-checkpoint.  A manifest that outlives
    # its checkpoint sees the NEW query's batch 0 with the same batch_id
    # an old entry recorded — it must accumulate, not skip, because the
    # run_id differs.
    from boon_spark.sources.manifest import ValidationManifest
    from boon_spark.streaming.validate_stream import (
        manifest_batch_handler, run_id_for_checkpoint)

    mk = lambda run: manifest_batch_handler(
        SPEC, partition_col="source", manifest_path=str(tmp_path / "m"),
        violations_path=str(tmp_path / "v"), row_id="doc_id", run_id=run)
    b = spark.createDataFrame(
        [("d1", 50, "web"), ("d2", 999, "web")],
        "doc_id string, n_tok int, source string")

    run_a = run_id_for_checkpoint(str(tmp_path / "ckpt_a"))
    run_b = run_id_for_checkpoint(str(tmp_path / "ckpt_b"))
    assert run_a != run_b
    handle_a = mk(run_a)
    handle_a(b, 0)
    ent = {e["partition"]: e
           for e in ValidationManifest(str(tmp_path / "m")).entries()}
    assert ent["web"]["n_rows"] == 2 and ent["web"]["run_id"] == run_a
    # same handler, same batch -> replay, skipped
    handle_a(b, 0)
    ent = {e["partition"]: e
           for e in ValidationManifest(str(tmp_path / "m")).entries()}
    assert ent["web"]["n_rows"] == 2
    # NEW run (fresh checkpoint), its own batch 0 -> must accumulate
    handle_b = mk(run_b)
    handle_b(b, 0)
    ent = {e["partition"]: e
           for e in ValidationManifest(str(tmp_path / "m")).entries()}
    assert ent["web"]["n_rows"] == 4, "fresh-checkpoint batch 0 dropped"
    assert ent["web"]["run_id"] == run_b


# ---------------------------------------------------------------- drift


def test_streaming_drift_converges_to_batch_psi(spark, input_dir):
    """After all micro-batches, each key's running PSI must equal the
    batch drift PSI over the same rows (identical width_bucket edges and
    PSI formula — drift_stream docstring pins this)."""
    import math

    from boon_spark.operators.drift import drift_check
    from boon_spark.streaming.drift_stream import (reference_probs,
                                                   streaming_drift)

    full = spark.read.schema(DDL) \
        .option("recursiveFileLookup", "true").parquet(input_dir)
    # reference = the 'web' slice; observed stream = everything
    ref_df = full.filter(F.col("source") == "web")
    probs = reference_probs(ref_df, "n_tok", lo=1, hi=100, buckets=10)
    assert abs(sum(probs) - 1.0) < 1e-9

    sd = streaming_drift(
        _read_stream(spark, input_dir, per_trigger=1),
        value_col="n_tok", key_col="source", ref_probs=probs,
        lo=1, hi=100, buckets=10, psi_threshold=0.05)
    _run(sd, "t_drift", out_mode="update")
    rows = spark.sql("select * from t_drift").collect()
    # two micro-batches -> each key emits once per batch it appears in;
    # keep the final (largest n_total) emission per key
    last = {}
    for r in rows:
        if r.key not in last or r.n_total > last[r.key].n_total:
            last[r.key] = r
    assert set(last) == {"web", "books"}
    assert last["web"].n_total + last["books"].n_total == 120

    for key, r in last.items():
        batch = drift_check(ref_df, full.filter(F.col("source") == key),
                            "n_tok", lo=1, hi=100, buckets=10,
                            psi_threshold=0.05).collect()[0]
        assert math.isclose(r.psi, batch.psi, rel_tol=1e-9), \
            (key, r.psi, batch.psi)
        assert r.drifted == (not batch.valid)
    # the reference slice drifts against itself only through the
    # books-rows; 'web' vs itself must NOT drift
    assert last["web"].drifted is False


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    from boon_spark.streaming.validate_stream import dedup_stream

    rows1 = [("a", 1, "web", "2024-01-01 00:00:00"),
             ("b", 2, "web", "2024-01-01 00:00:10")]
    rows2 = [("a", 1, "web", "2024-01-01 00:00:20"),   # dup of batch 1
             ("c", 3, "web", "2024-01-01 00:00:30")]
    ddl_src = "doc_id string, n_tok int, source string, ts string"
    path = str(tmp_path / "in")
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, ddl_src) \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.parquet(f"{path}/p{i}")
    stream = (spark.readStream.schema(DDL)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(path))
    dd = dedup_stream(stream, ["doc_id"], ts_col="ts")
    q = (dd.writeStream.format("memory").queryName("t_dd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.sql("select * from t_dd").collect())
    assert got == ["a", "b", "c"]  # the duplicate 'a' dropped


def test_run_id_reads_checkpoint_metadata(spark, tmp_path):
    # the run identity is the query id persisted in <checkpoint>/metadata
    # (regenerated when a checkpoint is wiped and recreated at the SAME
    # path — a pure path hash would collide there and batch 0 of the new
    # run would be skipped as a replay)
    import json as _json
    from boon_spark.streaming.validate_stream import run_id_for_checkpoint
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(_json.dumps({"id": "query-aaa"}))
    assert run_id_for_checkpoint(str(ckpt), spark) == "query-aaa"
    # wipe + recreate at the same path -> new query id -> new run id
    (ckpt / "metadata").write_text(_json.dumps({"id": "query-bbb"}))
    assert run_id_for_checkpoint(str(ckpt), spark) == "query-bbb"
    # no metadata yet (query not started) -> deterministic path fallback
    empty = tmp_path / "ckpt2"
    assert run_id_for_checkpoint(str(empty), spark) == \
        run_id_for_checkpoint(str(empty), spark)


def test_run_id_raises_on_unreadable_metadata(spark, tmp_path):
    # ADVICE r4: metadata that EXISTS but cannot be parsed must raise,
    # not fall back — a transient fallback hands two different run_ids
    # to the same query across handler incarnations, so a replayed batch
    # looks like new work and double-accumulates its counts
    import pytest as _pytest
    from boon_spark.streaming.validate_stream import run_id_for_checkpoint
    ckpt = tmp_path / "ckpt_bad"
    ckpt.mkdir()
    (ckpt / "metadata").write_text("{not json")
    with _pytest.raises(RuntimeError, match="cannot read"):
        run_id_for_checkpoint(str(ckpt), spark)
    (ckpt / "metadata").write_text("{}")  # parses, but no query id
    with _pytest.raises(RuntimeError, match="no query id"):
        run_id_for_checkpoint(str(ckpt), spark)


def test_manifest_handler_lazy_run_id_from_checkpoint(spark, tmp_path):
    # handler built with checkpoint= resolves the run id on first batch
    import json as _json
    from boon_spark.sources.manifest import ValidationManifest
    from boon_spark.streaming.validate_stream import manifest_batch_handler
    ckpt = tmp_path / "ck"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(_json.dumps({"id": "q-1"}))
    handle = manifest_batch_handler(
        SPEC, partition_col="source", manifest_path=str(tmp_path / "m"),
        row_id="doc_id", checkpoint=str(ckpt))
    b = spark.createDataFrame([("d1", 50, "web")],
                              "doc_id string, n_tok int, source string")
    handle(b, 0)
    ent = ValidationManifest(str(tmp_path / "m")).entries()[0]
    assert ent["run_id"] == "q-1"


# ---------------------------------------------------------- near-dup


def test_near_dup_stream_cross_batch_collisions(spark, tmp_path):
    # near-identical docs arriving in DIFFERENT micro-batches collide
    # against the horizon's FIRST document; unique docs emit nothing
    from boon_spark.streaming.near_dup import near_dup_stream
    text_x = "the quick brown fox jumps over the lazy dog " * 3
    text_y = "completely different content about something else " * 3
    ddl = "doc_id string, text string, ts string"
    b1 = spark.createDataFrame(
        [("dA", text_x, "2024-01-01 00:00:00"),
         ("dU", text_y, "2024-01-01 00:00:30")], ddl) \
        .withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [("dB", text_x, "2024-01-01 00:01:00"),
         ("dC", text_x + "with a small tail change", "2024-01-01 00:01:30")],
        ddl).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "nd_in")
    b1.coalesce(1).write.parquet(path + "/p1")
    b2.coalesce(1).write.parquet(path + "/p2")
    stream = (spark.readStream
              .schema("doc_id string, text string, ts timestamp")
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(path))
    out = near_dup_stream(stream, watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("t_nd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from t_nd").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.first_id)
    # dB is an exact near-dup of dA: every band collides with dA
    assert by_doc.get("dB") == {"dA"}
    assert len([r for r in rows if r.doc_id == "dB"]) == 4  # all 4 bands
    # dC shares most shingles -> at least one band collision vs dA
    assert "dA" in by_doc.get("dC", set())
    # the unique doc and the first arrival never emit
    assert "dU" not in by_doc and "dA" not in by_doc


def test_near_dup_collider_state_contract():
    # direct unit test of the stateful function: first arrival sets
    # state silently; later arrivals emit; timeout removes state
    import pandas as pd

    from boon_spark.streaming.near_dup import make_collider

    class FakeState:
        def __init__(self):
            self.exists, self.hasTimedOut = False, False
            self._v, self.removed, self.timeout_ms = None, False, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def remove(self):
            self.removed = True

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    fn = make_collider(600_000, "UTC")
    st = FakeState()
    ts = pd.Timestamp("2024-01-01 00:00:00")
    out = list(fn((0, 123), iter([pd.DataFrame(
        {"_id": ["a", "b"], "ts": [ts, ts + pd.Timedelta(seconds=5)]})]),
        st))
    assert st._v[:2] == ("a", 2)
    assert len(out) == 1 and list(out[0]["doc_id"]) == ["b"]
    assert out[0]["n_prior"].iloc[0] == 1
    # horizon rides the LAST arrival (UTC session tz: naive == epoch)
    expect = int((ts + pd.Timedelta(seconds=5))
                 .tz_localize("UTC").timestamp() * 1000) + 600_000
    assert st.timeout_ms == expect and st._v[2] == expect
    # a LATER batch with only older rows must not move eviction backward
    out2 = list(fn((0, 123), iter([pd.DataFrame(
        {"_id": ["c"], "ts": [ts - pd.Timedelta(minutes=5)]})]), st))
    assert st.timeout_ms == expect, "timeout moved backward"
    assert list(out2[0]["doc_id"]) == ["c"]
    # session tz is honored: naive timestamps are NOT epoch-UTC east of
    # Greenwich — +05:30 lands 19800s EARLIER in true epoch
    fn_tz = make_collider(600_000, "Asia/Kolkata")
    st3 = FakeState()
    list(fn_tz((0, 9), iter([pd.DataFrame(
        {"_id": ["a"], "ts": [ts]})]), st3))
    assert st3.timeout_ms == expect - 5_000 - 19_800_000
    # timed-out call removes the entry and emits nothing
    st2 = FakeState()
    st2.hasTimedOut = True
    assert list(fn((0, 123), iter([]), st2)) == []
    assert st2.removed


def test_contamination_stream_matches_batch(spark, tmp_path):
    # stateless streaming decontamination converges to the batch
    # operator's verdicts on the same data (same shingle/hash exprs)
    from boon_spark.operators.dedup import cross_table_contamination
    from boon_spark.streaming.contamination_stream import (
        build_benchmark_index, contamination_stream)
    eval_item = "the quick brown fox jumps over the lazy dog again"
    filler = " ".join(f"tok{i} pad{i} fill{i}" for i in range(40))
    ddl = "doc_id string, text string"
    bench = spark.createDataFrame([("b1", eval_item)], ddl)
    corpus_rows = [("train1", filler + " " + eval_item + " " + filler),
                   ("train2", "unrelated content here entirely " * 5),
                   ("train3", eval_item)]
    batch_corpus = spark.createDataFrame(corpus_rows, ddl)
    expected = {(r.corpus_id, r.benchmark_id)
                for r in cross_table_contamination(
                    batch_corpus, bench, threshold=0.9).collect()}
    assert expected == {("train1", "b1"), ("train3", "b1")}

    path = str(tmp_path / "cs_in")
    batch_corpus.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(ddl).parquet(path)
    out = contamination_stream(stream, bench, threshold=0.9)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_cs")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.benchmark_id)
           for r in spark.sql("select * from t_cs").collect()}
    assert got == expected
    overlaps = {r.doc_id: r.overlap
                for r in spark.sql("select * from t_cs").collect()}
    assert overlaps["train3"] == 1.0

    # index sanity: hash -> [bench ids], per-bench distinct shingles
    idx, sizes, hot = build_benchmark_index(bench)
    assert sizes["b1"] > 0 and all(v == ["b1"] for v in idx.values())
    assert hot == set()


def test_horizon_ms_parses_spark_interval_forms():
    import pytest as _pytest
    from boon_spark.streaming.near_dup import _horizon_ms
    assert _horizon_ms("10 minutes") == 600_000
    assert _horizon_ms("1 hour 30 minutes") == 5_400_000
    assert _horizon_ms("10 min") == 600_000
    assert _horizon_ms("45 seconds") == 45_000
    assert _horizon_ms("250 ms") == 250
    assert _horizon_ms("2 days") == 172_800_000
    with _pytest.raises(ValueError, match="cannot parse"):
        _horizon_ms("soonish")
    with _pytest.raises(ValueError, match="cannot parse"):
        _horizon_ms("10 lightyears")


def test_benchmark_index_unions_duplicate_ids(spark):
    from boon_spark.streaming.contamination_stream import (
        build_benchmark_index)
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma delta"),
         ("b1", "alpha beta gamma delta epsilon")],
        "doc_id string, text string")
    idx, sizes, _hot = build_benchmark_index(bench)
    # union, not per-row append: each hash maps b1 ONCE
    assert all(ids == ["b1"] for ids in idx.values())
    assert sizes["b1"] == len(idx)


def test_near_dup_stream_state_evicted_after_horizon(spark, tmp_path):
    # end-to-end eviction: once the watermark passes a band key's
    # horizon, a later duplicate is a NEW first arrival (no collision) —
    # the state store stays bounded by the horizon, by construction
    from boon_spark.streaming.near_dup import near_dup_stream
    text_x = "some repeated training document body here " * 3
    ddl = "doc_id string, text string, ts string"

    def write(rows, part):
        spark.createDataFrame(rows, ddl) \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.parquet(str(tmp_path / "ev_in" / part))

    write([("dA", text_x, "2024-01-01 00:00:00")], "p1")
    # far-future filler pushes the watermark well past dA's horizon
    write([("zz", "totally unrelated filler text content " * 3,
            "2024-01-01 02:00:00")], "p2")
    write([("dB", text_x, "2024-01-01 02:00:30")], "p3")
    stream = (spark.readStream
              .schema("doc_id string, text string, ts timestamp")
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "ev_in")))
    out = near_dup_stream(stream, watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("t_ev")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from t_ev").collect()
    # dA's band keys were evicted before dB arrived: dB emits nothing
    assert rows == [], f"expected no collisions, got {rows}"


def test_near_dup_stream_matches_batch_candidates(spark, tmp_path):
    # VERDICT r4 #4: banding is byte-shared with the batch operator, so
    # the STATEFUL logic is the unshared piece — pin it by equivalence.
    # For every band key, the membership reconstructed from stream
    # collisions ({first_id} ∪ colliding doc_ids) must equal the batch
    # bucket membership (size ≥ 2) on the same data, and therefore the
    # derived candidate-pair set equals minhash_lsh_pairs' uncapped
    # candidates.  Data spans THREE micro-batches inside one watermark
    # horizon, so cross-batch state (not just within-batch sorting) is
    # what's being compared.
    from itertools import combinations

    from boon_spark.operators.dedup import _minhash_banded
    from boon_spark.streaming.near_dup import near_dup_stream
    text_x = "the quick brown fox jumps over the lazy dog " * 3
    text_y = "pack my box with five dozen liquor jugs today " * 3
    rows = [
        ("d01", text_x, "2024-01-01 00:00:00"),
        ("d02", "unique content about volcanoes and geology " * 3,
         "2024-01-01 00:00:10"),
        ("d03", text_y, "2024-01-01 00:00:20"),
        ("d04", text_x, "2024-01-01 00:01:00"),
        ("d05", text_x + "with a small tail change", "2024-01-01 00:01:10"),
        ("d06", text_y, "2024-01-01 00:01:20"),
        ("d07", "another singleton document body entirely " * 3,
         "2024-01-01 00:02:00"),
        ("d08", text_x, "2024-01-01 00:02:10"),
        ("d09", text_y + "and a different suffix here", "2024-01-01 00:02:20"),
    ]
    ddl = "doc_id string, text string, ts string"
    for i in range(3):  # 3 docs per micro-batch
        spark.createDataFrame(rows[3 * i:3 * i + 3], ddl) \
            .withColumn("ts", F.to_timestamp("ts")) \
            .coalesce(1).write.parquet(str(tmp_path / "par_in" / f"p{i}"))
    stream = (spark.readStream
              .schema("doc_id string, text string, ts timestamp")
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "par_in")))
    out = near_dup_stream(stream, watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("t_par")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream_members = {}
    for r in spark.sql("select * from t_par").collect():
        stream_members.setdefault((r.band, r.key), set()) \
            .update({r.doc_id, r.first_id})

    batch_df = spark.createDataFrame(rows, ddl).select("doc_id", "text")
    _sig, banded = _minhash_banded(
        batch_df, text_col="text", id_col="doc_id", num_hashes=16,
        bands=4, shingle_n=3, hash_family="xxhash64")
    batch_members = {}
    for r in banded.collect():
        batch_members.setdefault((r.band, r.key), set()).add(r._id)
    batch_members = {k: v for k, v in batch_members.items() if len(v) >= 2}

    assert stream_members == batch_members, (
        "stream-reconstructed band buckets diverge from batch banding:\n"
        f"stream-only: {set(stream_members) - set(batch_members)}\n"
        f"batch-only: {set(batch_members) - set(stream_members)}")

    def pairs(members):
        return {p for v in members.values()
                for p in combinations(sorted(v), 2)}

    assert pairs(stream_members) == pairs(batch_members)
    assert pairs(batch_members), "sanity: the dataset must produce pairs"


def test_contamination_hot_hashes_gate_candidacy_not_overlap(spark):
    # max_df marks boilerplate shingles HOT: they never CREATE a
    # candidate, but a real candidate's overlap still counts them —
    # dropping them from the numerator while the denominator keeps them
    # would under-report overlap (silent false negative)
    from boon_spark.streaming.contamination_stream import (
        build_benchmark_index)
    boiler = "standard legal header text block one two three"
    uniq1 = "alpha beta gamma delta epsilon zeta eta theta"
    uniq2 = "iota kappa lam mu nu xi omicron pi"
    bench = spark.createDataFrame(
        [("b1", boiler + " " + uniq1), ("b2", boiler + " " + uniq2)],
        "doc_id string, text string")
    idx, sizes, hot = build_benchmark_index(bench, max_df=1)
    # the boiler shingles appear in BOTH bench docs -> hot
    assert hot, "expected shared boilerplate shingles to be hot"
    # hot hashes are still IN the index (full-count numerator)
    assert all(h in idx for h in hot)
    assert all(len(idx[h]) == 2 for h in hot)


# ------------------------------------------------ r5 streaming review


def test_manifest_handler_requires_run_identity(tmp_path):
    # neither run_id nor checkpoint would stamp run_id "" forever —
    # a wiped-and-recreated checkpoint's batch 0 would then look like
    # the old run's batch 0 and be dropped as a replay
    import pytest as _pytest

    from boon_spark.streaming.validate_stream import manifest_batch_handler
    with _pytest.raises(ValueError, match="run_id= or checkpoint="):
        manifest_batch_handler(
            SPEC, partition_col="source",
            manifest_path=str(tmp_path / "m"))


def test_manifest_bridge_rejects_bad_spec_before_any_batch(spark, input_dir,
                                                         tmp_path):
    # the spec is compiled once, when the handler is built: a bad spec
    # fails the call, not the query's first micro-batch
    from boon_spark.errors import CompileError
    from boon_spark.streaming.validate_stream import (manifest_batch_handler,
                                                      stream_to_manifest)
    bad = {"type": "nope"}
    with pytest.raises(CompileError, match="unknown type"):
        manifest_batch_handler(bad, partition_col="source",
                               manifest_path=str(tmp_path / "m"),
                               run_id="r")
    with pytest.raises(CompileError, match="unknown type"):
        stream_to_manifest(_read_stream(spark, input_dir), bad,
                           partition_col="source",
                           manifest_path=str(tmp_path / "m"),
                           checkpoint=str(tmp_path / "ck"))
    assert not os.path.exists(tmp_path / "ck")


def test_manifest_record_replaces_the_partition_entry(spark, tmp_path):
    # one entry file per (spec hash, partition): a second record
    # replaces the first, and the handler's replay detection and
    # cumulative merge both read that one entry
    from boon_spark.sources.manifest import ValidationManifest, spec_hash
    from boon_spark.streaming.validate_stream import manifest_batch_handler

    m = ValidationManifest(str(tmp_path / "m"))
    shash = spec_hash(SPEC)
    m.record("web", shash, {"n_rows": 10, "n_invalid": 1,
                            "n_violations": 1, "valid": False})
    m.record("web", shash, {"n_rows": 15, "n_invalid": 2,
                            "n_violations": 2, "valid": False,
                            "batch_id": 0, "run_id": "r"})
    ents = m.entries()
    assert [(e["partition"], e["n_rows"]) for e in ents] == [("web", 15)]
    handle = manifest_batch_handler(
        SPEC, partition_col="source", manifest_path=str(tmp_path / "m"),
        row_id="doc_id", run_id="r")
    b = spark.createDataFrame([("d1", 50, "web")],
                              "doc_id string, n_tok int, source string")
    # replay of batch 0: the entry is stamped (r, 0) -> no-op
    handle(b, 0)
    assert m.entries() == ents
    # batch 1 merges onto the entry's 15 rows and replaces it
    handle(b, 1)
    ents = m.entries()
    assert len(ents) == 1
    assert ents[0]["n_rows"] == 16 and ents[0]["batch_id"] == 1


def test_manifest_handler_reads_only_its_partitions(spark, tmp_path,
                                                    parquet_reads):
    # a micro-batch reads the entries of the partitions it carries, not
    # the whole manifest
    from boon_spark.sources.manifest import ValidationManifest
    from boon_spark.streaming.validate_stream import manifest_batch_handler
    handle = manifest_batch_handler(
        SPEC, partition_col="source", manifest_path=str(tmp_path / "m"),
        row_id="doc_id", run_id="r")
    schema = "doc_id string, n_tok int, source string"
    handle(spark.createDataFrame(
        [("d1", 50, "web"), ("d2", 50, "books"), ("d3", 50, "code")],
        schema), 0)
    parquet_reads.clear()
    handle(spark.createDataFrame([("d4", 50, "web")], schema), 1)
    assert len(parquet_reads) <= 1
    by_part = {e["partition"]: (e["n_rows"], e["batch_id"])
               for e in ValidationManifest(str(tmp_path / "m")).entries()}
    assert by_part == {"web": (2, 1), "books": (1, 0), "code": (1, 0)}


def test_collider_survives_null_event_times():
    # one malformed row (NaT event time) must not abort the stream:
    # engine-side a filter drops it; the collider itself also guards
    import pandas as pd

    from boon_spark.streaming.near_dup import make_collider

    class FakeState:
        exists, hasTimedOut, removed = False, False, False
        _v, timeout_ms = None, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    fn = make_collider(600_000, "UTC")
    st = FakeState()
    ts = pd.Timestamp("2024-01-01 00:00:00")
    out = list(fn((0, 1), iter([pd.DataFrame(
        {"_id": ["a", "b", "c"],
         "ts": [ts, pd.NaT, ts + pd.Timedelta(seconds=1)]})]), st))
    # NaT row dropped; the two timestamped rows processed normally
    assert st._v[:2] == ("a", 2)
    assert len(out) == 1 and list(out[0]["doc_id"]) == ["c"]
    # an all-NaT group neither crashes nor creates state
    st2 = FakeState()
    assert list(fn((0, 2), iter([pd.DataFrame(
        {"_id": ["x"], "ts": [pd.NaT]})]), st2)) == []
    assert not st2.exists


def test_drift_dead_input_times_out_as_drifted():
    # a silent key is flagged via the processing-time timeout (the data
    # path always has n >= 1, so dead-input detection cannot live there)
    from boon_spark.streaming.drift_stream import make_drift_updater

    class FakeState:
        exists, hasTimedOut = False, False
        _v, duration = None, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

        def setTimeoutDuration(self, d):
            self.duration = d

    ref = [0.5, 0.5, 0.0, 0.0]
    upd = make_drift_updater(4, ref, 0.2, 1e-6, "30 minutes")
    st = FakeState()
    import pandas as pd
    [first] = list(upd(("web",), iter([pd.DataFrame(
        {"bucket": [0, 1, 1]})]), st))
    assert st.duration == "30 minutes"  # timeout armed on the data path
    assert first["psi"].iloc[0] is not None
    # the key goes silent: timeout fires with no data
    st.hasTimedOut, st.duration = True, None
    [dead] = list(upd(("web",), iter([]), st))
    assert bool(dead["drifted"].iloc[0]) and pd.isna(dead["psi"].iloc[0])
    assert dead["batch_rows"].iloc[0] == 0
    assert dead["n_total"].iloc[0] == 3  # accumulated state retained
    assert st.duration == "30 minutes"  # re-armed: keeps flagging


def test_relevance_stream_matches_batch_scores(spark, tmp_path):
    # stateless streaming BM25 scoring converges to the batch operator's
    # int64 scores exactly (model fitted once on the batch snapshot)
    from boon_spark.operators.search import bm25_topk
    from boon_spark.streaming.relevance_stream import (fit_bm25_model,
                                                       relevance_stream)
    ddl = "doc_id string, text string"
    corpus_rows = [("d1", "the cat sat on the mat"),
                   ("d2", "dogs chase the cat around the yard"),
                   ("d3", "entirely unrelated filler words here"),
                   ("d4", "cat cat cat mat mat"),
                   ("d5", None),
                   ("d6", " ".join(["long"] * 50))]
    corpus = spark.createDataFrame(corpus_rows, ddl)
    queries = spark.createDataFrame(
        [("q1", "cat mat"), ("q2", "yard dogs")],
        "query_id string, query_text string")
    model = fit_bm25_model(corpus, queries, max_query_len=8,
                           max_doc_len=10)
    # batch reference: k >= |corpus| makes top-k the full scored frame
    want = {(r.doc_id, r.query_id, r.score_int)
            for r in bm25_topk(corpus, queries, k=100, max_query_len=8,
                               max_doc_len=10).collect()}
    assert want and all(s > 0 for _, _, s in want)

    path = str(tmp_path / "rel_in")
    corpus.filter(F.col("doc_id") <= "d3").coalesce(1) \
        .write.parquet(path + "/a")
    corpus.filter(F.col("doc_id") > "d3").coalesce(1) \
        .write.parquet(path + "/b")
    stream = (spark.readStream.schema(ddl)
              .option("recursiveFileLookup", "true")
              .option("maxFilesPerTrigger", 1).parquet(path))
    out = relevance_stream(stream, model)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_rel")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.query_id, r.score_int)
           for r in spark.sql("select * from t_rel").collect()}
    assert got == want
    # d6 (50 tokens) is over max_doc_len=10 in BOTH paths; d5 is NULL
    assert not any(d in ("d5", "d6") for d, _, _ in got)


def test_relevance_stream_min_score_and_validation(spark):
    from boon_spark.streaming.relevance_stream import (fit_bm25_model,
                                                       relevance_stream)
    ddl = "doc_id string, text string"
    corpus = spark.createDataFrame([("d1", "cat mat"), ("d2", "cat")], ddl)
    queries = spark.createDataFrame([("q1", "cat")],
                                    "query_id string, query_text string")
    model = fit_bm25_model(corpus, queries, max_query_len=8)
    import pytest as _pt
    with _pt.raises(ValueError, match="min_score"):
        relevance_stream(corpus, model, min_score=0)
    # batch frames score identically (the function is mode-agnostic)
    rows = relevance_stream(corpus, model, min_score=1).collect()
    assert {r.doc_id for r in rows} == {"d1", "d2"}


def test_relevance_stream_scores_out_of_corpus_terms(spark):
    # a query term absent from the FIT corpus carries df=0 (max idf):
    # an out-of-snapshot streamed doc holding it must still score
    from boon_spark.streaming.relevance_stream import (fit_bm25_model,
                                                       relevance_stream)
    ddl = "doc_id string, text string"
    corpus = spark.createDataFrame(
        [("d1", "common words only"), ("d2", "more common words")], ddl)
    queries = spark.createDataFrame(
        [("q1", "unseen common")], "query_id string, query_text string")
    model = fit_bm25_model(corpus, queries, max_query_len=8)
    assert "unseen" in model["idf"]  # df=0 entry present
    assert model["idf"]["unseen"] > model["idf"]["common"]
    newdoc = spark.createDataFrame([("x1", "totally unseen topic")], ddl)
    rows = {(r.doc_id, r.query_id): r.score_int
            for r in relevance_stream(newdoc, model).collect()}
    assert ("x1", "q1") in rows and rows[("x1", "q1")] > 0


def test_fit_bm25_model_df0_overflow_guard(spark):
    # a param set the BATCH guard accepts (df=1 idf bound) can still
    # overflow int64 through a df=0 term on a streamed doc — the fit
    # must size its own guard on the df=0 idf (ADVICE r5)
    from boon_spark.operators.search import _check_params
    from boon_spark.streaming.relevance_stream import fit_bm25_model
    corpus = spark.createDataFrame([("d1", "cat mat")],
                                   "doc_id string, text string")
    queries = spark.createDataFrame([("q1", "cat")],
                                    "query_id string, query_text string")
    # batch-side guard passes at these params...
    _check_params((6, 5), (3, 4), 1 << 35, 64, 1 << 10)
    # ...but the streaming df=0 bound is ~3x higher and must raise
    import pytest as _pt
    with _pt.raises(ValueError, match="df=0"):
        fit_bm25_model(corpus, queries, max_docs=1 << 35,
                       max_query_len=64, max_doc_len=1 << 10)
