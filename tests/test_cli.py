"""CLI tests via subprocess — mirrors the reference CLI's exit-code
contract (exit 2 on validation failure, cli/src/main.rs:169-171)."""

import json

import pytest
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "boon_spark", *args],
        capture_output=True, text=True, cwd=REPO, timeout=300)


def test_flag_output_and_exit_code(tmp_path):
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps(
        {"properties": {"n_chars": {"maximum": 400}}}))
    r = run_cli("--schema", str(spec),
                "--table", "/root/testdata/sf0.001/documents.parquet",
                "--row-id", "doc_id", "--cpus", "2")
    assert r.returncode == 2
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["valid"] is False and out["n_rows"] == 500


def test_all_valid_exits_zero(tmp_path):
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps(
        {"properties": {"n_chars": {"minimum": 0}}}))
    r = run_cli("--schema", str(spec),
                "--table", "/root/testdata/sf0.001/documents.parquet",
                "--cpus", "2")
    assert r.returncode == 0
    assert json.loads(r.stdout.strip().splitlines()[-1])["valid"] is True


def test_compile_error_exits_one(tmp_path):
    spec = tmp_path / "bad.json"
    spec.write_text('{"type": "nope"}')
    r = run_cli("--schema", str(spec), "--table", "whatever.parquet")
    assert r.returncode == 1
    assert "unknown type" in r.stderr


def test_yaml_schema_and_basic_format(tmp_path):
    spec = tmp_path / "s.yaml"
    spec.write_text("properties:\n  lang: {enum: [en]}\n")
    r = run_cli("--schema", str(spec),
                "--table", "/root/testdata/sf0.001/documents.parquet",
                "--row-id", "doc_id", "--format", "basic",
                "--limit", "2", "--cpus", "2")
    assert r.returncode == 2
    lines = [json.loads(x) for x in r.stdout.strip().splitlines()
             if x.startswith("{")]
    assert len(lines) == 2
    assert lines[0]["keywordLocation"] == "/properties/lang/enum"


def test_yaml_schema_unquoted_date_is_a_string(tmp_path):
    # an unquoted YAML date compiles to the string a JSON schema holds:
    # the YAML and JSON spellings of one schema give one verdict
    good, bad = tmp_path / "good.jsonl", tmp_path / "bad.jsonl"
    good.write_text(json.dumps({"d": "2020-01-01"}) + "\n")
    bad.write_text(json.dumps({"d": "2020-01-02"}) + "\n")
    (tmp_path / "s.yaml").write_text(
        "properties:\n  d: {enum: [2020-01-01]}\n")
    (tmp_path / "s.json").write_text(json.dumps(
        {"properties": {"d": {"enum": ["2020-01-01"]}}}))
    for spec, table, rc in (("s.yaml", good, 0), ("s.json", good, 0),
                            ("s.yaml", bad, 2)):
        r = run_cli("--schema", str(tmp_path / spec), "--table", str(table),
                    "--format", "basic", "--cpus", "1")
        assert r.returncode == rc, (spec, table, r.stdout, r.stderr)


def test_ref_loader_resolves_file_uri_forms(tmp_path):
    # percent-encoded, single-slash and localhost file: URIs all load
    from boon_spark.cli import make_ref_loader
    lib = tmp_path / "dir x" / "lib.json"
    lib.parent.mkdir()
    lib.write_text(json.dumps({"maximum": 10}))
    load = make_ref_loader(str(tmp_path / "main.json"))
    for uri in (lib.as_uri(), f"file:{lib}", f"file://localhost{lib}"):
        assert load(uri) == {"maximum": 10}, uri


def test_cli_ref_to_percent_encoded_file_uri(tmp_path):
    lib = tmp_path / "dir x" / "lib.json"
    lib.parent.mkdir()
    lib.write_text(json.dumps({"$defs": {"small": {"maximum": 10}}}))
    (tmp_path / "main.json").write_text(json.dumps(
        {"properties": {"n": {"$ref": lib.as_uri() + "#/$defs/small"}}}))
    data = tmp_path / "t.jsonl"
    data.write_text(json.dumps({"n": 50}) + "\n")
    r = run_cli("--schema", str(tmp_path / "main.json"),
                "--table", str(data), "--format", "basic", "--cpus", "1")
    assert r.returncode == 2, r.stderr
    assert "must be <=10" in r.stdout


def test_cli_cross_file_ref(tmp_path):
    # split-across-files schema suite: $ref into a sibling document
    # (boon FileLoader parity, src/loader.rs:31-41)
    import json as _json
    import subprocess
    import sys as _sys
    (tmp_path / "lib.json").write_text(
        _json.dumps({"$defs": {"bounded": {"minimum": 0, "maximum": 300}}}))
    (tmp_path / "main.json").write_text(_json.dumps(
        {"properties": {"n_chars": {"$ref": "lib.json#/$defs/bounded"}}}))
    r = subprocess.run(
        [_sys.executable, "-m", "boon_spark",
         "--table", "/root/testdata/sf0.001/documents.parquet",
         "--schema", str(tmp_path / "main.json"),
         "--row-id", "doc_id", "--format", "basic", "--limit", "1"],
        capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 2
    import json as _j
    unit = _j.loads(r.stdout.splitlines()[0])
    assert unit["keywordLocation"] == "/properties/n_chars/$ref/maximum"
    assert unit["absoluteKeywordLocation"] == \
        "lib.json#/$defs/bounded/maximum"


def test_assert_format_flag(tmp_path):
    # boon cli --assert-format parity (cli/src/main.rs:70-97,193-201):
    # lang is 2 lowercase letters, 'language' never matches format=date —
    # annotation-only by default (exit 0), asserting with the flag (exit 2)
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps(
        {"properties": {"lang": {"format": "date"}}}))
    table = "/root/testdata/sf0.001/documents.parquet"
    r = run_cli("--schema", str(spec), "--table", table, "--cpus", "2")
    assert r.returncode == 0, r.stderr
    r = run_cli("--schema", str(spec), "--table", table, "--cpus", "2",
                "--assert-format")
    assert r.returncode == 2, r.stderr


def test_simple_and_alt_formats(tmp_path):
    # boon cli --format simple|alt (cli/src/main.rs:152-162)
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps(
        {"properties": {"n_chars": {"maximum": 400}}}))
    table = "/root/testdata/sf0.001/documents.parquet"
    r = run_cli("--schema", str(spec), "--table", table, "--row-id",
                "doc_id", "--cpus", "2", "--format", "simple", "--limit", "2")
    assert r.returncode == 2
    lines = r.stdout.strip().splitlines()
    assert lines[0].startswith("jsonschema validation failed with ")
    assert any(l.startswith("- at '") and "must be <=400" in l
               for l in lines)
    r = run_cli("--schema", str(spec), "--table", table, "--row-id",
                "doc_id", "--cpus", "2", "--format", "alt", "--limit", "1")
    assert r.returncode == 2
    assert "[S#/properties/n_chars/maximum]" in r.stdout


def test_detailed_format_is_nested_tree(tmp_path):
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps(
        {"properties": {"n_chars": {"maximum": 400}}}))
    r = run_cli("--schema", str(spec),
                "--table", "/root/testdata/sf0.001/documents.parquet",
                "--row-id", "doc_id", "--cpus", "2",
                "--format", "detailed", "--limit", "1")
    assert r.returncode == 2
    unit = json.loads(r.stdout.strip().splitlines()[-1])
    assert unit["keywordLocation"] == "" and "errors" in unit
    leaf = unit["errors"][0]
    assert leaf["keywordLocation"] == "/properties/n_chars/maximum"
    assert "error" in leaf


def test_quiet_flag(tmp_path):
    # boon cli -q/--quiet: verdict via exit code only
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps(
        {"properties": {"n_chars": {"maximum": 400}}}))
    r = run_cli("--schema", str(spec),
                "--table", "/root/testdata/sf0.001/documents.parquet",
                "--row-id", "doc_id", "--cpus", "2", "--quiet",
                "--format", "basic")
    assert r.returncode == 2
    assert r.stdout.strip() == ""


def test_ssl_context_flags():
    # boon cli --cacert / -k/--insecure (cli/src/main.rs:205-209,234-260)
    import ssl
    from boon_spark.cli import make_ssl_context
    assert make_ssl_context(None, False) is None
    ctx = make_ssl_context(None, True)
    assert ctx.verify_mode == ssl.CERT_NONE and not ctx.check_hostname


def test_jsonl_table(tmp_path):
    # boon validates raw JSON instance documents; JSONL through
    # spark.read.json is the distributed re-expression of that workflow
    data = tmp_path / "rows.jsonl"
    data.write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": "a", "n": 5},
        {"doc_id": "b", "n": 50},
        {"doc_id": "c", "n": 7},
    ]))
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps({"properties": {"n": {"maximum": 10}}}))
    r = run_cli("--schema", str(spec), "--table", str(data),
                "--row-id", "doc_id", "--cpus", "2", "--format", "basic")
    assert r.returncode == 2
    out = [json.loads(l) for l in r.stdout.strip().splitlines()]
    assert len(out) == 1 and out[0]["instanceLocation"] == "/b/n"


def test_pretty_printed_json_table(tmp_path):
    # a .json file is a (possibly pretty-printed) document or top-level
    # array — line-mode would yield _corrupt_record rows that VALIDATE
    # (round-3 review finding: silent false verdict)
    data = tmp_path / "inst.json"
    data.write_text(json.dumps(
        [{"doc_id": "a", "n": 5}, {"doc_id": "b", "n": 50}], indent=2))
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps({"properties": {"n": {"maximum": 10}}}))
    r = run_cli("--schema", str(spec), "--table", str(data),
                "--row-id", "doc_id", "--cpus", "2", "--format", "flag")
    assert r.returncode == 2
    out = json.loads(r.stdout)
    assert out["n_rows"] == 2 and out["n_invalid"] == 1


def test_corrupt_table_fails_loudly(tmp_path, spark):
    from boon_spark.sources.reader import read_table
    bad = tmp_path / "bad.jsonl"
    bad.write_text("{not json at all\n}}}\n")
    with pytest.raises(Exception, match="corrupt"):
        read_table(spark, str(bad))


def test_bare_relative_name_beats_iceberg_heuristic(monkeypatch):
    # extension dispatch must beat the Iceberg table-id heuristic for a
    # bare relative filename (no "/") on an Iceberg-enabled runtime —
    # dispatch-logic test with a recording fake (the JVM cwd cannot be
    # moved for a real relative-path read)
    from boon_spark.sources import reader

    class FakeDF:
        columns = ["a"]

    class FakeRead:
        def __init__(self, calls):
            self.calls = calls

        def option(self, *a):
            return self

        def json(self, loc):
            self.calls.append(("json", loc))
            return FakeDF()

        def csv(self, loc):
            self.calls.append(("csv", loc))
            return FakeDF()

        def parquet(self, loc):
            self.calls.append(("parquet", loc))
            return FakeDF()

        def format(self, f):
            self.calls.append(("format", f))
            return self

        def load(self, loc):
            self.calls.append(("load", loc))
            return FakeDF()

    class FakeSpark:
        def __init__(self):
            self.calls = []

        @property
        def read(self):
            return FakeRead(self.calls)

    monkeypatch.setattr(reader, "iceberg_available", lambda s: True)
    fs = FakeSpark()
    reader.read_table(fs, "rows.jsonl")
    assert fs.calls == [("json", "rows.jsonl")]
    fs2 = FakeSpark()
    reader.read_table(fs2, "catalog.db.tbl")
    assert ("format", "iceberg") in fs2.calls


def test_corrupt_table_error_contract(tmp_path):
    # input errors share the CLI's contract: "error: ..." + exit 1,
    # never a raw traceback
    bad = tmp_path / "bad.jsonl"
    bad.write_text("{not json\n}}}\n")
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps({"properties": {"n": {"maximum": 1}}}))
    r = run_cli("--schema", str(spec), "--table", str(bad),
                "--row-id", "doc_id", "--cpus", "2")
    assert r.returncode == 1
    # Spark startup banners precede it on stderr; the contract is an
    # "error: ..." line and no traceback
    assert any(l.startswith("error:") for l in r.stderr.splitlines())
    assert "Traceback" not in r.stderr


def test_bad_cacert_error_contract(tmp_path):
    spec = tmp_path / "s.json"
    spec.write_text(json.dumps({"properties": {"n": {"maximum": 1}}}))
    r = run_cli("--schema", str(spec), "--table", "x.parquet",
                "--cacert", str(tmp_path / "missing.pem"))
    assert r.returncode == 1
    assert r.stderr.strip().startswith("error:")


def test_legit_corrupt_record_field_not_rejected(tmp_path, spark):
    # a dataset may legitimately contain a _corrupt_record field; only
    # Spark's own corrupt marker (distinctive name) triggers the error
    from boon_spark.sources.reader import read_table
    f = tmp_path / "audit.jsonl"
    f.write_text('{"_corrupt_record": "note", "n": 1}\n'
                 '{"_corrupt_record": null, "n": 2}\n')
    assert read_table(spark, str(f)).count() == 2


def test_malformed_csv_fails_loudly(tmp_path, spark):
    # pin the FAILFAST mode specifically — any other coincidental crash
    # must not satisfy this test
    from boon_spark.sources.reader import read_table
    f = tmp_path / "bad.csv"
    f.write_text('doc_id,n\n"a",5\n"unterminated,\n')
    with pytest.raises(Exception, match="FAILFAST|[Mm]alformed"):
        read_table(spark, str(f)).collect()


def test_yaml_instance_table(tmp_path, spark):
    # boon's CLI accepts YAML instances (cli/src/main.rs:219-228): a
    # document stream becomes rows, matching the .json reader's types
    from boon_spark.sources.reader import read_table
    f = tmp_path / "rows.yaml"
    f.write_text("doc_id: a\nn_tok: 5\n---\ndoc_id: b\nn_tok: 9000\n")
    df = read_table(spark, str(f))
    assert df.count() == 2
    assert set(df.columns) == {"doc_id", "n_tok"}
    # top-level list form too
    g = tmp_path / "list.yml"
    g.write_text("- {doc_id: c, n_tok: 1}\n- {doc_id: d, n_tok: 2}\n")
    assert read_table(spark, str(g)).count() == 2
    # non-mapping rows fail loudly rather than validating as NULLs
    import pytest as _pytest
    h = tmp_path / "bad.yaml"
    h.write_text("- 1\n- 2\n")
    with _pytest.raises(ValueError, match="mappings"):
        read_table(spark, str(h))


def test_yaml_native_scalars_and_malformed(tmp_path, spark):
    # YAML-1.1 native scalars (unquoted dates/timestamps) must land as
    # ISO strings — PyYAML parses them to datetime objects that
    # json.dumps rejects; and malformed YAML keeps the bad-input error
    # contract (ValueError), not a ScannerError traceback
    from boon_spark.sources.reader import read_table
    f = tmp_path / "dates.yaml"
    f.write_text("doc_id: a\ncreated: 2024-01-31\n"
                 "ts: 2024-01-31 10:11:12\n")
    row = read_table(spark, str(f)).collect()[0]
    assert row.created == "2024-01-31"
    assert row.ts.startswith("2024-01-31T10:11:12")
    import pytest as _pytest
    g = tmp_path / "bad.yaml"
    g.write_text("a: [unclosed\n")
    with _pytest.raises(ValueError, match="malformed YAML"):
        read_table(spark, str(g))


# runs the CLI in a child process, counting the reads of lib.json
_COUNT_LIB_LOADS = """
import sys
import boon_spark.cli as cli
real, n = cli.load_schema, [0]
def load_schema(path, *args):
    n[0] += path.endswith("lib.json")
    return real(path, *args)
cli.load_schema = load_schema
rc = cli.main(sys.argv[1:])
print("LIB_LOADS", n[0])
sys.exit(rc)
"""


def test_partition_report_reuses_compiled_schema(tmp_path):
    # --partition-col validates with the schema the CLI compiled: a
    # sibling $ref'd document is read once per run, and the manifest
    # identity covers it, so editing it re-validates every partition
    data = tmp_path / "rows.jsonl"
    data.write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": "a", "p": "x", "n": 5},
        {"doc_id": "b", "p": "y", "n": 50},
    ]))
    lib = tmp_path / "lib.json"
    main = tmp_path / "main.json"
    main.write_text(json.dumps(
        {"properties": {"n": {"$ref": "lib.json#/$defs/bounded"}}}))

    def run(maximum):
        lib.write_text(json.dumps(
            {"$defs": {"bounded": {"maximum": maximum}}}))
        r = subprocess.run(
            [sys.executable, "-c", _COUNT_LIB_LOADS,
             "--schema", str(main), "--table", str(data),
             "--row-id", "doc_id", "--partition-col", "p",
             "--manifest", str(tmp_path / "m"), "--cpus", "2"],
            capture_output=True, text=True, cwd=REPO, timeout=300)
        body, _, loads = r.stdout.rstrip().rpartition("\n")
        assert loads == "LIB_LOADS 1", r.stderr
        return r.returncode, json.loads(body[body.index("{"):])

    rc, out = run(100)
    assert (rc, out["pending"]) == (0, ["x", "y"])
    rc, out = run(100)
    assert (rc, out["pending"], out["skipped"]) == (0, [], ["x", "y"])
    rc, out = run(10)
    assert (rc, out["pending"]) == (2, ["x", "y"])
    assert out["metrics"]["y"]["valid"] is False
