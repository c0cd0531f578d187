"""Command-line interface — parity with the reference CLI
(``cli/src/main.rs``): validate a table against a constraint schema,
print flag/basic/summary output, exit 2 on any validation failure
(``cli/src/main.rs:169-171``), exit 1 on usage/compile errors.

Usage::

    python -m boon_spark --schema spec.json --table data.parquet \
        [--row-id doc_id] [--format flag|basic|summary] [--limit 20] \
        [--partition-col source --manifest DIR [--violations DIR]] \
        [--cpus 8]

Schema files may be JSON or YAML (the reference CLI accepts YAML too,
``cli/src/main.rs:219-228``).
"""

from __future__ import annotations

import argparse
import json
import sys


#: JVM error signatures that mean BAD INPUT (corrupt/malformed records,
#: FAILFAST parse aborts, missing files) rather than an engine defect —
#: the only Py4J failures the CLI converts to its 2-line error contract
_INPUT_ERROR_MARKS = (
    "MALFORMED_RECORD",          # JSON/CSV FAILFAST (Spark 4 error class)
    "Malformed records are detected",   # pre-error-class wording
    "BadRecordException",
    "FAILED_READ_FILE",
    "PATH_NOT_FOUND",
    "Path does not exist",
    "_corrupt_record",
    "is not a Parquet file",
    "Unable to infer schema",
)


def _looks_like_input_error(e) -> bool:
    return any(m in str(e) for m in _INPUT_ERROR_MARKS)


def make_ssl_context(cacert=None, insecure=False):
    """TLS options for remote schema fetches — boon cli --cacert /
    -k/--insecure (cli/src/main.rs:205-209,234-260).  None → library
    defaults."""
    if not cacert and not insecure:
        return None
    import ssl
    ctx = ssl.create_default_context(cafile=cacert or None)
    if insecure:
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    return ctx


def load_schema(path: str, ssl_ctx=None):
    """Load a schema document from a file path or http(s) URL — the
    reference CLI supports both (cli/src/main.rs:231-276) plus YAML
    (cli/src/main.rs:219-228), parsed by
    :func:`~boon_spark.loaders.parse_document`."""
    from .loaders import file_loader, parse_document
    if not path.startswith(("http://", "https://")):
        return file_loader(path)
    from urllib.request import urlopen
    with urlopen(path, timeout=30, context=ssl_ctx) as r:
        return parse_document(r.read().decode(), path)


def make_ref_loader(schema_path: str, ssl_ctx=None):
    """Cross-document $ref loader — boon ``FileLoader``/``UrlLoader``
    parity (src/loader.rs:23-72): http(s) URIs load remotely, ``file:``
    URIs through :func:`~boon_spark.loaders.file_loader`; anything else
    resolves as a file path relative to the schema document."""
    import os

    from .loaders import file_loader
    http = schema_path.startswith(("http://", "https://"))
    base = (schema_path.rsplit("/", 1)[0] + "/") if http \
        else os.path.dirname(os.path.abspath(schema_path))

    def load(uri: str):
        if uri.startswith(("http://", "https://")):
            return load_schema(uri, ssl_ctx)
        if http:
            from urllib.parse import urljoin
            return load_schema(urljoin(base, uri), ssl_ctx)
        if uri[:5].lower() == "file:":
            return file_loader(uri)
        return load_schema(os.path.join(base, uri))

    return load


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        prog="boon_spark",
        description="Validate a parquet table against a constraint schema")
    ap.add_argument("--schema", required=True,
                    help="constraint schema (JSON or YAML file)")
    ap.add_argument("--table", required=True,
                    help="parquet path, Iceberg table id, or "
                         "JSON/JSONL/CSV file (boon validates raw JSON "
                         "instances; JSONL is its distributed shape)")
    ap.add_argument("--table-format", default="auto",
                    choices=["auto", "parquet", "iceberg", "json", "csv",
                             "yaml"],
                    help="input format (auto: by extension)")
    ap.add_argument("--row-id", default=None,
                    help="column used for instance pointers")
    ap.add_argument("--format", default="flag",
                    choices=["flag", "basic", "detailed", "summary",
                             "simple", "alt"],
                    help="output format (boon cli: simple/alt/flag/basic/"
                         "detailed, cli/src/main.rs:152-162; summary is "
                         "an engine extension)")
    ap.add_argument("--limit", type=int, default=20,
                    help="max violation rows to print (basic format)")
    ap.add_argument("--partition-col", default=None,
                    help="validate per partition with a resumable manifest")
    ap.add_argument("--manifest", default=None,
                    help="manifest directory (with --partition-col)")
    ap.add_argument("--violations", default=None,
                    help="violation sink directory (with --partition-col)")
    ap.add_argument("-q", "--quiet", action="store_true",
                    help="suppress violation output; only the exit code "
                         "reports the verdict (boon cli -q/--quiet)")
    ap.add_argument("--assert-format", action="store_true",
                    help="enable format assertions with draft >= 2019 "
                         "(boon cli --assert-format)")
    ap.add_argument("--assert-content", action="store_true",
                    help="enable content assertions (contentEncoding/"
                         "MediaType/Schema; boon cli --assert-content)")
    ap.add_argument("--default-draft", type=int, default=None,
                    choices=[4, 6, 7, 2019, 2020],
                    help="draft for schemas without $schema (boon "
                         "set_default_draft; default: permissive union)")
    ap.add_argument("--cacert", default=None,
                    help="CA certificate file for https schema fetches "
                         "(boon cli --cacert)")
    ap.add_argument("-k", "--insecure", action="store_true",
                    help="skip TLS verification for https schema fetches "
                         "(boon cli -k/--insecure)")
    ap.add_argument("--sample", type=float, default=None,
                    help="validate a row fraction (north_star: sampled-"
                         "partition spot checks at full scale)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args(argv)

    from .schema import compile_schema

    try:
        ssl_ctx = make_ssl_context(args.cacert, args.insecure)
        ref_loader = make_ref_loader(args.schema, ssl_ctx)
        spec = load_schema(args.schema, ssl_ctx)
        # fail fast before starting a session; the loader resolves
        # cross-document $refs relative to the schema's own location.
        # The compiled result is REUSED below — recompiling would fetch
        # every remote $ref target a second time.
        compiled = compile_schema(spec, loader=ref_loader,
                                  assert_format=args.assert_format,
                                  assert_content=args.assert_content,
                                  default_draft=args.default_draft)
    except Exception as e:  # schema I/O, YAML/JSON parse, compile errors
        print(f"error: {e}", file=sys.stderr)
        return 1

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("boon_spark-cli")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from py4j.protocol import Py4JJavaError

    from pyspark.errors import PySparkException

    from .errors import CompileError
    try:
        from .sources.reader import read_table
        df = read_table(spark, args.table, fmt=args.table_format)
        if args.sample is not None:
            df = df.sample(fraction=args.sample, seed=args.seed)

        if args.partition_col:
            if not args.manifest:
                print("error: --manifest required with --partition-col",
                      file=sys.stderr)
                return 1
            from .sources.manifest import validate_partitioned
            out = validate_partitioned(
                spark, df, compiled, args.partition_col, args.manifest,
                violations_path=args.violations, row_id=args.row_id)
            print(json.dumps({"pending": out["pending"],
                              "skipped": out["skipped"],
                              "metrics": out["metrics"]}, indent=2))
            any_invalid = any(not m["valid"] for m in out["metrics"].values())
            return 2 if any_invalid else 0

        from .engine import Engine
        # human/tree formats carry boon's contentSchema causes; the flat
        # formats keep the lean wrapper-only violation stage
        causes = args.format in ("detailed", "simple", "alt")
        res = Engine(compiled, row_id=args.row_id,
                     content_causes=causes).validate(df)
        # -q/--quiet: verdict via exit code only (boon cli -q)
        say = (lambda *a, **k: None) if args.quiet else print
        # each format drives ONE full validation pass; the exit code is
        # derived from that pass's own output (collecting flag() first
        # would scan the table twice).  limit only truncates PRINTING —
        # any violation at all yields at least one collected row.
        invalid = False
        if args.format == "flag":
            flag = res.flag().collect()[0]
            invalid = not flag.valid
            say(json.dumps({"valid": flag.valid, "n_rows": flag.n_rows,
                              "n_invalid": flag.n_invalid,
                              "n_violations": flag.n_violations}))
        elif args.format == "detailed":
            # boon's nested detailed tree (output.rs:89-137): causes
            # grouped per subschema scope, one JSON document per row
            trees = res.detailed_tree(limit=max(args.limit, 1))
            invalid = bool(trees)
            for t in trees[:args.limit]:
                say(json.dumps(t))
        elif args.format in ("simple", "alt"):
            # boon's human display formats (output.rs:142-183)
            from .outputs import render_simple
            trees = res.detailed_tree(limit=max(args.limit, 1))
            invalid = bool(trees)
            url = compiled.base_uri or args.schema
            for t in trees[:args.limit]:
                say(render_simple(t, alt=(args.format == "alt"),
                                    schema_url=url))
        elif args.format == "basic":
            rows = res.violations().limit(max(args.limit, 1)).collect()
            invalid = bool(rows)
            for r in rows[:args.limit]:
                say(json.dumps({
                    "valid": False,
                    "instanceLocation": r.instance_location,
                    "keywordLocation": r.keyword_location,
                    "absoluteKeywordLocation": r.absolute_keyword_location,
                    "error": r.error}))
        else:
            rows = res.summary().orderBy("keyword_location").collect()
            invalid = bool(rows)
            for r in rows:
                say(f"{r.keyword_location}\t{r.n_violations}")
        return 2 if invalid else 0
    except (CompileError, ValueError, PySparkException,
            Py4JJavaError) as e:
        # plan-time compile errors (non-descending cycles, unknown
        # formats) and input errors (corrupt JSON tables, FAILFAST CSV
        # parse failures at action time, missing paths) share the CLI's
        # error contract: "error: ..." + exit 1.  Deliberately NOT a
        # bare `except Exception`: an internal TypeError must stay a
        # traceback, not be laundered into the user-error contract.
        # Py4JJavaError / PySparkException are broader than the contract
        # — any JVM failure (codegen bug, OOM, engine-defect
        # AnalysisException) lands there too; only re-wrap the expected
        # bad-input shapes and let everything else surface as a
        # traceback (ADVICE r3; PySparkException arm included because in
        # PySpark 4 AnalysisException subclasses it).
        if isinstance(e, (Py4JJavaError, PySparkException)) and \
                not _looks_like_input_error(e):
            raise
        # Spark/Py4J messages embed a JVM stack — keep the head only.
        head = "\n".join(str(e).strip().splitlines()[:2])[:400]
        print(f"error: {head}", file=sys.stderr)
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
