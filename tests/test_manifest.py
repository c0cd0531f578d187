"""Resumability tests (FIXTURES.md §4): run, drop one partition's lineage,
rerun → only that partition recomputed; changed spec invalidates all."""

import os
from contextlib import nullcontext

import pytest

from boon_spark.operators._ckpt import StorageLevel
from boon_spark.schema import compile_schema
from boon_spark.sources.manifest import (ValidationManifest, spec_hash,
                                         validate_partitioned)

SPEC = {"properties": {"n_tok": {"minimum": 1, "maximum": 100}}}


def _df(spark, sources=("web", "books", "code")):
    rows = [(f"d{i}", i % 150 + 1, sources[i % len(sources)])
            for i in range(300)]
    return spark.createDataFrame(rows, "doc_id string, n_tok int, source string")


def test_first_run_validates_all(spark, tmp_path):
    out = validate_partitioned(spark, _df(spark), SPEC, "source",
                               str(tmp_path / "manifest"),
                               violations_path=str(tmp_path / "viols"),
                               row_id="doc_id")
    assert sorted(out["pending"]) == ["books", "code", "web"]
    assert out["skipped"] == []
    assert all(m["n_rows"] == 100 for m in out["metrics"].values())
    assert all(m["n_invalid"] > 0 for m in out["metrics"].values())
    # violations written partitioned by source
    assert os.path.isdir(tmp_path / "viols" / "source=web")


def test_rerun_skips_everything(spark, tmp_path):
    df = _df(spark)
    validate_partitioned(spark, df, SPEC, "source",
                         str(tmp_path / "m"), row_id="doc_id")
    out2 = validate_partitioned(spark, df, SPEC, "source",
                                str(tmp_path / "m"), row_id="doc_id")
    assert out2["pending"] == []
    assert sorted(out2["skipped"]) == ["books", "code", "web"]


# (partition keys, the one invalidated); "a/b" and "a_b" shared a
# filename prefix under the older entry names
@pytest.mark.parametrize("keys,drop", [
    (["web", "books", "code"], "books"),
    (["a/b", "a_b"], "a/b"),
], ids=["source", "collision"])
def test_invalidate_recomputes_only_that_partition(spark, tmp_path, keys,
                                                   drop):
    df = _df(spark, keys)
    mpath = str(tmp_path / "m")
    validate_partitioned(spark, df, SPEC, "source", mpath, row_id="doc_id")
    ValidationManifest(mpath).invalidate(drop)
    out = validate_partitioned(spark, df, SPEC, "source", mpath,
                               row_id="doc_id")
    assert out["pending"] == [drop]
    assert out["skipped"] == sorted(set(keys) - {drop})
    assert list(out["metrics"]) == [drop]


def test_rerun_reads_no_manifest_entry(spark, tmp_path, parquet_reads):
    # the resume check is a directory listing: its cost does not grow
    # with the entries' content or the manifest's history
    df = _df(spark)
    mpath = str(tmp_path / "m")
    validate_partitioned(spark, df, SPEC, "source", mpath, row_id="doc_id")
    out = validate_partitioned(spark, df, SPEC, "source", mpath,
                               row_id="doc_id")
    assert out["pending"] == [] and len(out["skipped"]) == 3
    assert parquet_reads == []


def test_older_layout_manifest_fails_loudly(spark, tmp_path):
    # an entry under the older random-suffix name is invisible to keyed
    # lookups: both writers refuse the directory instead of restarting
    # its partitions' counts from zero
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boon_spark.streaming.validate_stream import manifest_batch_handler
    mpath = tmp_path / "m"
    mpath.mkdir()
    pq.write_table(pa.Table.from_pylist([{
        "partition": "web", "status": "complete",
        "spec_hash": spec_hash(SPEC), "n_rows": 100, "n_invalid": 1,
        "n_violations": 1, "valid": False, "batch_id": 0, "run_id": "r",
        "finished_at": 0.0}]), str(mpath / "web-1a2b3c4d.parquet"))
    df = _df(spark)
    with pytest.raises(ValueError, match="web-1a2b3c4d.parquet"):
        validate_partitioned(spark, df, SPEC, "source", str(mpath),
                             row_id="doc_id")
    handle = manifest_batch_handler(SPEC, partition_col="source",
                                    manifest_path=str(mpath),
                                    row_id="doc_id", run_id="r")
    with pytest.raises(ValueError, match="web-1a2b3c4d.parquet"):
        handle(df, 0)


FMT_SPEC = {"properties": {"d": {"format": "date"}}}
REF_SPEC = {"properties": {"n_tok": {"$ref": "lib.json#/$defs/bounded"}}}


def _lib(maximum):
    return {"lib.json": {"$defs": {"bounded": {"minimum": 1,
                                               "maximum": maximum}}}}


# (first run's spec, second run's spec): each pair differs in one input
# the compile reads
CHANGES = {
    "spec": lambda: (SPEC, {"properties": {"n_tok": {"minimum": 1,
                                                     "maximum": 50}}}),
    "assert_format": lambda: (FMT_SPEC,
                              compile_schema(FMT_SPEC, assert_format=True)),
    "resources": lambda: (compile_schema(REF_SPEC, resources=_lib(100)),
                          compile_schema(REF_SPEC, resources=_lib(50))),
    "default_draft": lambda: (SPEC, compile_schema(SPEC, default_draft=7)),
}


@pytest.mark.parametrize("change", list(CHANGES))
def test_changed_spec_invalidates_lineage(spark, tmp_path, change):
    first, second = CHANGES[change]()
    if change == "assert_format":
        # format is annotation-only by default, so the first run records
        # the partition valid; asserting it must not reuse that verdict
        df, col = spark.createDataFrame(
            [("d0", "a", "2020-01-01"), ("d1", "a", "not-a-date")],
            "doc_id string, p string, d string"), "p"
    else:
        df, col = _df(spark), "source"
    mpath = str(tmp_path / "m")
    validate_partitioned(spark, df, first, col, mpath, row_id="doc_id")
    assert spec_hash(second) != spec_hash(first)
    out = validate_partitioned(spark, df, second, col, mpath,
                               row_id="doc_id")
    if change == "assert_format":
        assert out["pending"] == ["a"]
        assert out["metrics"]["a"]["n_invalid"] == 1
        assert out["metrics"]["a"]["valid"] is False
    else:
        assert sorted(out["pending"]) == ["books", "code", "web"]


def test_manifest_entries_carry_metrics(spark, tmp_path):
    mpath = str(tmp_path / "m")
    validate_partitioned(spark, _df(spark), SPEC, "source", mpath,
                         row_id="doc_id")
    entries = ValidationManifest(mpath).entries()
    assert len(entries) == 3
    e = entries[0]
    assert e["status"] == "complete" and e["n_rows"] == 100
    assert e["spec_hash"] == spec_hash(SPEC)


def test_partition_cardinality_guard(spark, tmp_path):
    # a high-cardinality "partition" column must fail loudly instead of
    # collecting millions of distinct values onto the driver
    from pyspark.sql import functions as F
    from boon_spark.sources.manifest import validate_partitioned
    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.col("id").alias("p"))
    with pytest.raises(ValueError, match="distinct values"):
        validate_partitioned(spark, df, {"properties": {}}, "p",
                             str(tmp_path / "m"), max_partitions=10)


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _capture_pins(monkeypatch):
    """Record the frame and level of every ``_ckpt.pin`` call."""
    from boon_spark.operators import _ckpt
    pins, real = [], _ckpt.pin

    def spy(df, level=None):
        out = real(df, level)
        pins.append((out, level))
        return out
    monkeypatch.setattr(_ckpt, "pin", spy)
    return pins


def test_violations_path_pins_one_narrow_frame(spark, tmp_path, monkeypatch):
    # the write and the metrics aggregate share ONE evaluation of the
    # projection; the pin never carries the input's wide columns
    pins = _capture_pins(monkeypatch)
    validate_partitioned(spark, _df(spark), SPEC, "source",
                         str(tmp_path / "m"),
                         violations_path=str(tmp_path / "v"),
                         row_id="doc_id")
    assert len(pins) == 1
    df, level = pins[0]
    assert df.columns == ["source", "valid", "violations",
                          "violation_count"]
    assert level == StorageLevel.MEMORY_AND_DISK


def test_no_violations_path_pins_nothing(spark, tmp_path, monkeypatch):
    # the metrics aggregate is then the only consumer
    pins = _capture_pins(monkeypatch)
    out = validate_partitioned(spark, _df(spark), SPEC, "source",
                               str(tmp_path / "m"), row_id="doc_id")
    assert pins == []
    assert sorted(out["metrics"]) == ["books", "code", "web"]


@pytest.mark.parametrize("fail_at", [None, "write", "record"])
def test_pin_released_before_return(spark, tmp_path, monkeypatch, fail_at):
    # "write": the violations path is a regular file, so the write fails
    # (before the pin's blocks are built); "record": the pin is filled
    # and read, then the manifest step raises
    pins = _capture_pins(monkeypatch)
    vpath = tmp_path / "v"
    if fail_at == "write":
        vpath.write_text("x")
    elif fail_at == "record":
        def record(self, partition, shash, metrics):
            raise RuntimeError("manifest step failed")
        monkeypatch.setattr(ValidationManifest, "record", record)
    before = _persistent_rdds(spark)
    with pytest.raises(Exception) if fail_at else nullcontext():
        validate_partitioned(spark, _df(spark), SPEC, "source",
                             str(tmp_path / "m"),
                             violations_path=str(vpath), row_id="doc_id")
    assert len(pins) == 1
    assert pins[0][0].storageLevel == StorageLevel.NONE
    # a set difference, not equality: the context cleaner may drop an
    # earlier test's unreferenced RDD meanwhile, which is not a leak
    assert _persistent_rdds(spark) - before == set()
    # a failed call records nothing
    assert len(ValidationManifest(str(tmp_path / "m")).entries()) == \
        (0 if fail_at else 3)


def test_metrics_match_engine_flag_with_null_key(spark, tmp_path):
    # per-partition metrics read off the pin agree with the engine's own
    # flag aggregate, computed independently over the raw frame — NULL
    # partition key and multi-violation rows included
    from boon_spark.engine import Engine
    from boon_spark.sources.manifest import NULL_PARTITION
    spec = {"required": ["n_tok"],
            "properties": {"n_tok": {"minimum": 1, "maximum": 100,
                                     "multipleOf": 2},
                           "doc_id": {"pattern": "^d"}}}
    rows = [(("d" if i % 7 else "x") + str(i),
             None if i % 11 == 0 else i % 150,
             [None, "web", "books", "code"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows,
                               "doc_id string, n_tok int, source string")
    flag = Engine.from_schema(spec, row_id="doc_id").validate(df) \
        .flag(by=["source"]).collect()
    expect = {NULL_PARTITION if r.source is None else r.source:
              (r.n_rows, r.n_invalid, r.n_violations, r.valid)
              for r in flag}
    assert sorted(expect) == [NULL_PARTITION, "books", "code", "web"]
    assert any(n_viol > n_inv for _, n_inv, n_viol, _ in expect.values())
    for vpath in (str(tmp_path / "v"), None):
        out = validate_partitioned(spark, df, spec, "source",
                                   str(tmp_path / f"m{vpath is None}"),
                                   violations_path=vpath, row_id="doc_id")
        got = {p: (m["n_rows"], m["n_invalid"], m["n_violations"],
                   m["valid"]) for p, m in out["metrics"].items()}
        assert got == expect, vpath
