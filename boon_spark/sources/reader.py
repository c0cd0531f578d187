"""Source abstraction: Iceberg when available, parquet otherwise.

The production target is Iceberg (north_rule); this sandbox has no
Iceberg runtime jars, so the reader degrades to parquet with the same
call shape.  Partition-pruning behavior is equivalent for the engine's
purposes: both push `partition_col IN (...)` filters to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..loaders import _yaml_jsonable

# corrupt-row marker column for JSON reads (see read_table): a
# distinctive name because a dataset may legitimately contain a field
# called _corrupt_record
_CORRUPT = "_boon_spark_corrupt"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str, *,
               fmt: str = "auto") -> DataFrame:
    """``location`` is an Iceberg table identifier (``catalog.db.tbl``),
    a parquet path, or a JSON/JSONL/CSV file — boon's CLI validates raw
    JSON instance documents (cli/src/main.rs:231-276); newline-delimited
    JSON through ``spark.read.json`` is the distributed re-expression of
    that workflow.  ``fmt='auto'`` prefers Iceberg when the runtime has
    it and the location looks like a table identifier, then dispatches
    on the file extension (default parquet)."""
    low = location.rstrip("/").lower()
    # extension dispatch BEFORE the Iceberg table-identifier heuristic:
    # a bare relative filename ("rows.jsonl") has no "/" either
    if fmt == "json" or (fmt == "auto" and
                         low.endswith((".json", ".jsonl", ".ndjson"))):
        # .jsonl/.ndjson: one document per line — the splittable layout
        # (a single giant multi-line document cannot be parallelized and
        # is not a 10^12-row shape).  A plain .json file is boon's
        # primary instance shape: one (possibly pretty-printed) document
        # or a top-level array — multiLine parses those; line-mode would
        # yield _corrupt_record rows that VALIDATE (silent false verdict)
        multi = low.endswith(".json")
        df = spark.read.option("multiLine", str(multi).lower()) \
            .option("columnNameOfCorruptRecord", _CORRUPT) \
            .json(location)
    elif fmt == "yaml" or (fmt == "auto" and
                           low.endswith((".yaml", ".yml"))):
        # boon's CLI accepts YAML *instances* (cli/src/main.rs:219-228).
        # A YAML "table" is a small-file, driver-side shape by nature
        # (YAML has no splittable row framing): safe_load on the driver,
        # one row per document (stream of docs) or per list element,
        # then parallelize.  NOT a 10^12-row path — use JSONL/parquet
        # for scale; this exists for CLI parity.
        import yaml
        try:
            with open(location) as f:
                docs = [d for d in yaml.safe_load_all(f.read())
                        if d is not None]
        except yaml.YAMLError as e:
            # ValueError keeps the CLI's bad-input error contract — a raw
            # ScannerError/ParserError would traceback instead
            raise ValueError(
                f"{location}: malformed YAML: "
                f"{str(e).strip().splitlines()[0]}") from e
        if len(docs) == 1 and isinstance(docs[0], list):
            docs = docs[0]
        if not docs:
            raise ValueError(f"{location}: no YAML documents found")
        if not all(isinstance(d, dict) for d in docs):
            raise ValueError(
                f"{location}: YAML table rows must be mappings "
                f"(a document stream or one top-level list of them)")
        docs = [_yaml_jsonable(d, location) for d in docs]
        # route through the JSON reader so type widening/schema inference
        # matches the .json path exactly (a hand-rolled createDataFrame
        # would infer e.g. int-vs-double differently)
        import json as _json
        df = spark.read.option("columnNameOfCorruptRecord", _CORRUPT) \
            .json(spark.sparkContext.parallelize(
                [_json.dumps(d) for d in docs]))
    elif fmt == "csv" or (fmt == "auto" and low.endswith(".csv")):
        # FAILFAST: a malformed CSV row would otherwise PERMISSIVE-fill
        # NULLs that validate (same silent-false-verdict hazard as JSON)
        df = spark.read.option("header", "true") \
            .option("inferSchema", "true") \
            .option("mode", "FAILFAST").csv(location)
    elif fmt == "iceberg" or (fmt == "auto" and "/" not in location
                              and iceberg_available(spark)):
        return spark.read.format("iceberg").load(location)
    else:
        return spark.read.parquet(location)
    if _CORRUPT in df.columns:
        # even ONE malformed record must fail loudly: a corrupt row
        # parses as all-NULL and NULL passes most keywords (engine NULL
        # semantics), so it would count as a VALID instance — a silent
        # false verdict over corrupt data
        raise ValueError(
            f"{location}: contains records that are not parseable as "
            f"JSON rows — fix or strip them; corrupt rows would "
            f"otherwise validate as all-NULL instances")
    return df
