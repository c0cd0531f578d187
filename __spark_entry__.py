"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation (full constraint suite over
the documents table at sf0.001) and returns the violation rows.
``queries()`` exposes one entry per implemented operator (SURVEY.md §2);
``oracle_sql()`` gives the DuckDB-equivalent SQL for the correctness gate.

Column-name/type parity notes: every computed column is aliased identically
on both sides; Spark ``size``/``count`` results are cast to bigint to match
DuckDB; float-valued columns are avoided or rounded in compared outputs.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boon_spark import Engine
from boon_spark.operators.referential import check_referential
from boon_spark.operators.stats import column_stats
from boon_spark.operators.uniqueness import check_unique

VLOC = ["instance_location", "keyword_location"]


#: any input below this is "tiny" for the parallelism floor — a table
#: this small can only have lost parallelism to file layout, never to
#: genuine scale (at real scale inputs are thousands of splits and the
#: floor never fires)
_FLOOR_MAX_BYTES = 256 << 20


def _read(spark, path, floor=True):
    """Parquet read + scale-adaptive parallelism floor (optimization
    guide §2.5, unsplittable input): the sf0.1 gate tables are single
    row-group single-file parquet, so the scan is ONE task and every
    row-local projection (shingle UDFs, regex chains, validation
    codegen) runs on one core no matter how many the session has.
    Repartition to the session's default parallelism ONLY when the
    input is one file AND tiny (a cheap driver-side stat — no plan is
    built); at real scale (many files / big input) this is a no-op, so
    no corpus shuffle is ever added where the input already
    parallelizes.  Every gate result is partitioning-independent by
    design (deterministic hashing, total-order ranks), so results are
    unchanged.

    The file stat is local-filesystem only: on an object-store path
    (``s3a://``, ``gs://``, ``abfss://``) ``os.path.isdir`` and ``glob``
    see no local files and the size lookup fails, so the floor never
    fires there — a single tiny object-store file is scanned as it is
    laid out.

    ``floor=False`` opts a query out: measured on the gate tables, the
    floor pays off only when scan-side per-row compute dominates —
    for shuffle-bound pipelines over the same tiny inputs the extra
    exchange plus the wider tiny-task stages cost more than the scan
    parallelism buys (see OPTIMIZATION_r07.md)."""
    df = spark.read.parquet(path)
    if not floor:
        return df
    import glob
    try:
        files = (glob.glob(os.path.join(path, "*.parquet"))
                 if os.path.isdir(path) else [path])
        n = spark.sparkContext.defaultParallelism
        if (0 < len(files) < n
                and sum(os.path.getsize(f)
                        for f in files) < _FLOOR_MAX_BYTES):
            df = df.repartition(n)
    except OSError:
        pass
    return df


def _docs(spark, sf_dir, floor=False):
    return _read(spark, f"{sf_dir}/documents.parquet", floor=floor)


def _violations(df, schema, row_id):
    eng = Engine.from_schema(schema, row_id=row_id)
    return (eng.validate(df).violations().select(*VLOC))


# --------------------------------------------------------------------------
# row-local keyword checks (engine-driven)
# --------------------------------------------------------------------------

def q_range_nchars(spark, sf_dir):
    """minimum/maximum (SURVEY §2.5) on documents.n_chars."""
    return _violations(
        _docs(spark, sf_dir),
        {"properties": {"n_chars": {"minimum": 100, "maximum": 400}}},
        "doc_id")


def q_enum_lang(spark, sf_dir):
    """enum (SURVEY §2.1) on documents.lang."""
    return _violations(
        _docs(spark, sf_dir),
        {"properties": {"lang": {"enum": ["en", "de", "fr"]}}},
        "doc_id")


def q_pattern_source(spark, sf_dir):
    """pattern (SURVEY §2.4) on documents.source."""
    return _violations(
        _docs(spark, sf_dir),
        {"properties": {"source": {"pattern": "^src[0-9]$"}}},
        "doc_id")


def q_length_text(spark, sf_dir):
    """minLength/maxLength (SURVEY §2.4) on documents.text."""
    return _violations(
        _docs(spark, sf_dir),
        {"properties": {"text": {"minLength": 60, "maxLength": 500}}},
        "doc_id")


def q_multipleof_psize(spark, sf_dir):
    """multipleOf (SURVEY §2.5) on part.p_size."""
    return _violations(
        _read(spark, f"{sf_dir}/part.parquet", floor=False),
        {"properties": {"p_size": {"multipleOf": 5}}},
        "p_partkey")


def q_items_bounds_embedding(spark, sf_dir):
    """items element-bounds (SURVEY §2.3): per-row verdict over
    embeddings.embedding ∈ [-0.5, 0.45]."""
    df = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    eng = Engine.from_schema(
        {"properties": {"embedding": {
            "items": {"minimum": -0.5, "maximum": 0.45}}}},
        row_id="vec_id")
    return eng.annotate(df).select("vec_id", "valid")


def q_contains_embedding(spark, sf_dir):
    """contains/minContains (SURVEY §2.3): row has ≥1 element > 0.4."""
    df = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    eng = Engine.from_schema(
        {"properties": {"embedding": {
            "contains": {"exclusiveMinimum": 0.4}, "minContains": 1}}},
        row_id="vec_id")
    return eng.annotate(df).select("vec_id", "valid")


def q_logic_ifthen(spark, sf_dir):
    """if/then/else + anyOf (SURVEY §2.1) over the documents row object."""
    df = _docs(spark, sf_dir)
    eng = Engine.from_schema({
        "if": {"properties": {"lang": {"const": "en"}}},
        "then": {"properties": {"n_chars": {"maximum": 400}}},
        "else": {"properties": {"n_chars": {"maximum": 300}}},
    }, row_id="doc_id")
    return eng.annotate(df).select("doc_id", "valid")


def q_unevaluated_dynamic(spark, sf_dir):
    """unevaluatedProperties:false under if/then/else (SURVEY §2.2,
    runtime annotation flow — boon validator.rs:930-968): evaluated
    names depend on which branch validates per row."""
    return _violations(
        _docs(spark, sf_dir),
        {"properties": {"doc_id": {"type": "integer"},
                        "text": {"type": "string"}},
         "if": {"properties": {"lang": {"const": "en"}},
                "required": ["lang"]},
         "then": {"properties": {"n_chars": {"maximum": 400}}},
         "else": {"properties": {"source": {"pattern": "^src[0-9]$"}}},
         "unevaluatedProperties": False},
        "doc_id")


def q_recursive_tree(spark, sf_dir):
    """Recursive $ref unrolled to the column-type depth (SURVEY §2.1,
    boon guards recursion at runtime, src/validator.rs:999-1011; this
    engine unrolls it at plan time): a 3-level tree built from
    documents.n_chars validated against a self-referencing node schema —
    each level's violation carries the unrolled keyword location."""
    docs = _docs(spark, sf_dir)
    df = docs.select(
        "doc_id",
        F.struct(
            F.col("n_chars").alias("v"),
            F.struct(
                (F.col("n_chars") - 150).alias("v"),
                F.struct((F.col("n_chars") - 300).alias("v")
                         ).alias("child")).alias("child")).alias("tree"))
    return _violations(
        df,
        {"$defs": {"node": {"properties": {
            "v": {"maximum": 200},
            "child": {"$ref": "#/$defs/node"}}}},
         "properties": {"tree": {"$ref": "#/$defs/node"}}},
        "doc_id")


def q_flag_documents(spark, sf_dir):
    """flag output (boon src/output.rs:33-35): whole-table verdict for a
    3-keyword suite."""
    eng = Engine.from_schema({"properties": {
        "n_chars": {"minimum": 100, "maximum": 400},
        "lang": {"enum": ["en", "de", "fr"]},
        "source": {"pattern": "^src[0-9]$"},
    }}, row_id="doc_id")
    return eng.validate(_docs(spark, sf_dir)).flag()


def q_summary_documents(spark, sf_dir):
    """per-keyword failure counts (basic-output aggregation)."""
    eng = Engine.from_schema({"properties": {
        "n_chars": {"minimum": 100, "maximum": 400},
        "lang": {"enum": ["en", "de", "fr"]},
    }}, row_id="doc_id")
    return eng.validate(_docs(spark, sf_dir)).summary()


def q_logic_combo(spark, sf_dir):
    """anyOf / not / oneOf / multipleOf over lineitem (SURVEY §2.1)."""
    li = _read(spark, f"{sf_dir}/lineitem.parquet", floor=False)
    eng = Engine.from_schema({"properties": {
        "l_discount": {"anyOf": [{"maximum": 0.02}, {"minimum": 0.08}]},
        "l_tax": {"not": {"exclusiveMinimum": 0.07}},
        "l_quantity": {"oneOf": [{"multipleOf": 2}, {"multipleOf": 3}]},
    }})
    return eng.annotate(li).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("valid")).cast("bigint")).cast("bigint")
        .alias("n_invalid"),
        F.sum("violation_count").cast("bigint").alias("n_violations"))


def q_const_exclusive(spark, sf_dir):
    """const + exclusive bounds violations over region (SURVEY §2.1/2.5)."""
    return _violations(
        spark.read.parquet(f"{sf_dir}/region.parquet"),  # 5 rows: a
        # parallelism floor would only add a shuffle in front of nothing
        {"properties": {
            "r_name": {"const": "AFRICA"},
            "r_regionkey": {"exclusiveMinimum": 0, "exclusiveMaximum": 4},
        }},
        "r_regionkey")


def _corrupted_dates(spark, sf_dir):
    """(o_orderkey, d_str): order dates as strings with every 10th key
    deterministically corrupted — ONE derivation shared by the
    format-assertion and format-annotation gates, whose whole point is
    to contrast verdicts over the SAME data."""
    o = _read(spark, f"{sf_dir}/orders.parquet", floor=False)
    d = F.date_format("o_orderdate", "yyyy-MM-dd")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0,
               F.concat(d, F.lit("x"))).otherwise(d).alias("d_str"))


def q_format_date(spark, sf_dir):
    """format: 'date' over a derived string column (10% corrupted
    deterministically) — exercises the rlike+calendar format path."""
    derived = _corrupted_dates(spark, sf_dir)
    eng = Engine.from_schema(
        {"properties": {"d_str": {"format": "date"}}}, row_id="o_orderkey",
        assert_format=True)  # explicit opt-in: format is annotation-only
    # by default (boon enable_format_assertions, compiler.rs:105-118)
    return (eng.validate(derived).violations()
            .select("instance_location", "keyword_location"))


def q_format_annotation_mode(spark, sf_dir):
    """format WITHOUT assertion opt-in (the boon default,
    compiler.rs:105-118): the same corrupted dates as q_format_date pass
    validation — format is an annotation, other keywords still assert."""
    derived = _corrupted_dates(spark, sf_dir)
    eng = Engine.from_schema(
        {"properties": {"d_str": {"format": "date", "minLength": 10}},
         "required": ["d_str"]}, row_id="o_orderkey")
    return (eng.validate(derived).flag()
            .select("valid", "n_rows", "n_invalid", "n_violations"))


def q_content_json_events(spark, sf_dir):
    """contentMediaType + contentSchema over events.props (SURVEY §2.4):
    per-keyword violation counts."""
    ev = _read(spark, f"{sf_dir}/events.parquet", floor=True)
    eng = Engine.from_schema({"properties": {"props": {
        "contentMediaType": "application/json",
        "contentSchema": {"properties": {
            "k": {"type": "integer", "minimum": 0, "maximum": 50}},
            "required": ["k"]},
    }}}, row_id="event_id", assert_content=True)  # content keywords
    # are annotation-only unless enabled (boon compiler.rs:122-130)
    return eng.validate(ev).summary()


# --------------------------------------------------------------------------
# cross-row operators (SURVEY §2.6)
# --------------------------------------------------------------------------

def q_unique_custkey(spark, sf_dir):
    """table-level uniqueItems: duplicated o_custkey values."""
    orders = _read(spark, f"{sf_dir}/orders.parquet", floor=False)
    return (check_unique(orders, ["o_custkey"], row_id="o_custkey")
            .select("instance_location", "keyword_location", "dup_count"))


def q_referential_custkey(spark, sf_dir):
    """referential broadcast anti-join: orders whose customer is outside a
    restricted dimension (c_custkey % 7 <> 0)."""
    orders = _read(spark, f"{sf_dir}/orders.parquet", floor=False)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .filter(F.col("c_custkey") % 7 != 0)  # broadcast dim side: a
    # repartition would just add an exchange before the collect
    return (check_referential(orders, "o_custkey", cust,
                              dim_column="c_custkey", row_id="o_orderkey")
            .select("instance_location", "keyword_location"))


def q_stats_by_source(spark, sf_dir):
    """per-group column stats (min/max/null-rate/distinct)."""
    return column_stats(_docs(spark, sf_dir), ["n_chars"], by=["source"],
                        exact_distinct=True) \
        .select("source", F.col("n_rows").cast("bigint").alias("n_rows"),
                "n_chars_min", "n_chars_max",
                # rounded on BOTH sides: no raw float aggregate in
                # compared output (CLAUDE.md oracle rule — a partial-agg
                # summation-order difference could flip the 9th digit)
                F.round("n_chars_null_rate", 6).alias("n_chars_null_rate"),
                F.col("n_chars_distinct").cast("bigint")
                .alias("n_chars_distinct"))


def q_invariant_nchars(spark, sf_dir):
    """row invariant n_chars == length(text) — verdict counts."""
    df = _docs(spark, sf_dir)
    ok = (F.col("n_chars") == F.length("text"))
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~ok).cast("bigint")).cast("bigint").alias("n_bad"))


def q_validate_table_docs(spark, sf_dir):
    """the validate_table orchestrator end-to-end: row-local keywords +
    table-level uniqueness + row invariants, summarized per keyword."""
    from boon_spark import validate_table
    spec = {
        "schema": {"properties": {
            "n_chars": {"maximum": 400},
            "lang": {"enum": ["en", "de", "fr"]}}},
        "unique": [["source", "lang"]],
        "invariants": [{"name": "n_chars_len",
                        "expr": "n_chars = length(text)"}],
    }
    out = validate_table(_docs(spark, sf_dir), spec, row_id="doc_id")
    row_counts = (out["row_violations"]
                  .groupBy("keyword_location")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_violations")))
    uniq_counts = (out["unique_violations"]
                   .groupBy("keyword_location")
                   .agg(F.count(F.lit(1)).cast("bigint")
                        .alias("n_violations")))
    inv_counts = (out["invariant_violations"]
                  .groupBy("keyword_location")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_violations")))
    return row_counts.unionByName(uniq_counts).unionByName(inv_counts)


# --------------------------------------------------------------------------
# training-data pipeline ops (prompt mandate: dedup/similarity/text)
# --------------------------------------------------------------------------

def q_equality_docs(spark, sf_dir):
    """per-row equality vs a reference table (boon deep `equals`,
    util.rs:348-388, lifted to table scale): the reference is documents
    with a deterministic perturbation (n_chars+1 on doc_id%17==0) and
    deterministic missing rows (doc_id%97==0)."""
    from boon_spark.operators.equality import check_equality
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars", "lang")
    ref = (_docs(spark, sf_dir)
           .filter(F.col("doc_id") % 97 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 17 == 0, F.col("n_chars") + 1)
                   .otherwise(F.col("n_chars")).alias("n_chars"),
                   "lang"))
    return check_equality(docs, ref, key="doc_id") \
        .select("instance_location", "keyword_location")


def q_skew_stats(spark, sf_dir):
    """two-stage salted aggregation over the skewed source column —
    result identical to a direct groupBy (the oracle IS the direct
    groupBy), but no reducer sees more than ~1/16 of the hottest key."""
    from boon_spark.operators.skew import salted_stats
    out = salted_stats(_docs(spark, sf_dir), ["source"], "n_chars",
                       salt_buckets=16, salt_col="doc_id")
    return out.select(
        "source",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_chars_sum").cast("bigint").alias("n_chars_sum"),
        F.col("n_chars_min").cast("bigint").alias("n_chars_min"),
        F.col("n_chars_max").cast("bigint").alias("n_chars_max"),
        F.col("n_chars_nulls").cast("bigint").alias("n_chars_nulls"))


def q_drift_nchars(spark, sf_dir):
    """distribution drift (KS + PSI over width_bucket histograms,
    SURVEY §2.6) between en and de documents' n_chars."""
    from boon_spark.operators.drift import drift_check
    docs = _docs(spark, sf_dir)
    a = docs.filter(F.col("lang") == "en")
    b = docs.filter(F.col("lang") == "de")
    m = drift_check(a, b, "n_chars", lo=0, hi=600, buckets=24)
    return m.select(F.round("ks_stat", 6).alias("ks_stat"),
                    F.round("psi", 6).alias("psi"),
                    F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"))


def q_dedup_exact(spark, sf_dir):
    """exact dedup groups by content fingerprint bucket (source, lang):
    group count + canonical (min) doc_id to keep."""
    return (_docs(spark, sf_dir)
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min("doc_id").alias("keep_doc_id"))
            .filter(F.col("n_docs") > 1))


def q_fingerprint(spark, sf_dir):
    """document fingerprint: md5 of normalized text."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))


def q_token_count(spark, sf_dir):
    """whitespace token counting — the shared `_doc_lens` definition
    (one expression for this gate and the five packing/token gates; a
    drifted copy would desynchronize them silently)."""
    return _doc_lens(spark, sf_dir).select(
        "doc_id", F.col("n_tok").cast("bigint").alias("n_tokens"))


def q_quality_counts(spark, sf_dir):
    """quality-scoring raw counts: punctuation, stopwords, uppercase."""
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_count(t, F.lit(r"[.!?]")).cast("bigint").alias("n_punct"),
        F.regexp_count(t, F.lit(r"\b(the|and|of|to|a)\b")).cast("bigint")
        .alias("n_stopwords"),
        F.regexp_count(t, F.lit(r"[A-Z]")).cast("bigint").alias("n_upper"))


def q_lang_id_counts(spark, sf_dir):
    """language-ID heuristic (stopword/CJK evidence argmax) → counts."""
    from boon_spark.operators.text import language_id
    return (_docs(spark, sf_dir, floor=True)
            .groupBy(language_id(F.col("text")).alias("lang_pred"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


def q_token_count_bpe(spark, sf_dir):
    """BPE-ish token counting (words + punct + subword correction)."""
    from boon_spark.operators.text import bpe_ish_token_count
    return _docs(spark, sf_dir, floor=True).select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_tokens_bpe"))


def q_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition metrics (Rae et al. 2021 Table A1):
    per-document top-2-gram / duplicate-5-gram character fractions as
    floor(frac*1e6) integers — every division is an IEEE double division
    of exact integers, so the DuckDB oracle reproduces them bit-for-bit.
    One Arrow-batched projection, zero shuffle."""
    from boon_spark.operators.repetition import ppm, repetition_metrics
    m = repetition_metrics(_docs(spark, sf_dir, floor=True))
    return m.select(
        "doc_id",
        ppm(F.col("top_2gram_char_frac")).alias("top2_ppm"),
        ppm(F.col("dup_5gram_char_frac")).alias("dup5_ppm"),
        F.col("n_words").cast("bigint").alias("n_words"))


def q_gopher_flags(spark, sf_dir):
    """Gopher quality-rule rejection counts over the word-level rule
    set (length, mean word length, alphabetic-word fraction, stopword
    presence, symbol-to-word ratio, top-2-gram, dup-5-gram).  The full
    rule set incl. line/paragraph metrics is unit-tested; this gate
    pins the metric values through seven threshold comparisons."""
    from boon_spark.operators.repetition import repetition_metrics
    m = repetition_metrics(_docs(spark, sf_dir, floor=True))
    c = F.col

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint") \
            .alias(name)

    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        cnt(c("n_words") < 50, "n_short"),
        cnt((c("mean_word_len") < 3.0) | (c("mean_word_len") > 10.0),
            "n_wordlen"),
        cnt(c("alpha_word_frac") < 0.8, "n_low_alpha"),
        cnt(c("stopword_hits") < 2, "n_low_stop"),
        cnt(c("symbol_word_ratio") > 0.1, "n_symbols"),
        cnt(c("top_2gram_char_frac") > 0.20, "n_top2"),
        cnt(c("dup_5gram_char_frac") > 0.15, "n_dup5"))


def q_hash_sample(spark, sf_dir):
    """Deterministic hash-based sampling: membership is a pure function
    of the row key (md5-uniform < fraction), independent of
    partitioning/cluster size — unlike DataFrame.sample's per-partition
    RNG.  The oracle reproduces membership bit-for-bit."""
    from boon_spark.operators.sampling import hash_sample
    return hash_sample(_docs(spark, sf_dir), 0.3, key_col="doc_id",
                       seed=7).select("doc_id")


def q_split_counts(spark, sf_dir):
    """Deterministic train/val/test split: cumulative cuts of the same
    key-hash uniform; per-(split, source) counts."""
    from boon_spark.operators.sampling import split_assign
    df = split_assign(_docs(spark, sf_dir),
                      {"train": 0.8, "val": 0.1, "test": 0.1},
                      key_col="doc_id", seed=1)
    return df.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))


#: mixing-gate target shares: four real sources plus one absent from
#: the corpus (exercises the missing-target arm); binding source keeps
#: everything, the rest downsample toward the mixture
_MIX_TARGETS = {"src0": 3.0, "src3": 2.0, "src7": 4.0, "src11": 1.0,
                "src_absent": 2.0}


def q_mix_stats(spark, sf_dir):
    """Source-weighted token-budget mixing (domain reweighting):
    per-source deterministic hash rates hitting a target token mixture,
    audited as integral ppm.  Scale shape: one tiny per-source agg,
    rates broadcast back, row-local hash filter — the corpus never
    shuffles.  Bit-parity: shares normalized in Python and rendered via
    repr into both engines; every float step same-op same-order."""
    from boon_spark.operators.mixing import mix_stats
    from boon_spark.operators.search import doc_len
    return mix_stats(_docs(spark, sf_dir), _MIX_TARGETS,
                     weight=doc_len(F.col("text")))


#: curation-pipeline gate thresholds: synthetic text contains no
#: English stopwords and averages ~54 words, so the two binding Gopher
#: defaults are relaxed to keep the gate non-degenerate (158 docs
#: through the full chain at sf0.01)
_CURATE_TH = {"min_stopword_hits": 0, "min_words": 40}


def q_snapshot_diff(spark, sf_dir):
    """Snapshot delta between two table versions ("what did this
    refresh do?"): a deterministic synthetic refresh of documents —
    every 11th doc removed, every 13th edited, every 17th re-added
    under a shifted key — diffed against the original.  One row-local
    digest per side + ONE full-outer key join (shuffle-free under
    key-bucketed layouts)."""
    from boon_spark.operators.equality import snapshot_diff
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    new = (docs.filter(F.col("doc_id") % 11 != 3)
           .select("doc_id",
                   F.when(F.col("doc_id") % 13 == 1,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text"),
                   "source")
           .unionAll(docs.filter(F.col("doc_id") % 17 == 2)
                     .select((F.col("doc_id") + 1000000).alias("doc_id"),
                             "text", "source")))
    return snapshot_diff(docs, new, columns=["text", "source"])


def q_nchars_quantiles(spark, sf_dir):
    """EXACT per-source quantiles of a bounded-cardinality column
    (percentile_disc semantics), scale-safely: histogram counts (the
    shuffle carries only DISTINCT values) + a cumulative window over
    the tiny counts frame + an integer-exact ppm threshold test —
    Spark's exact `percentile` buffers every value per group (the OOM
    shape at 10^12 rows) and `percentile_approx`'s sketch can never be
    oracle-paired."""
    from boon_spark.operators.stats import value_quantiles
    return value_quantiles(_docs(spark, sf_dir), "n_chars", by="source")


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END composition gate: quality filter (reduced Gopher
    rules) → exact dedup (min-id keeper per content md5) → deterministic
    hash sample → train/val/test split → per-(split, source) stats —
    four stages chained, ONE assembled oracle; a cross-engine drift in
    any stage surfaces here even if its isolated gate still passes."""
    from boon_spark.operators.pipeline import curation_stats
    return curation_stats(_docs(spark, sf_dir, floor=True),
                          thresholds=_CURATE_TH)


def q_token_windows(spark, sf_dir):
    """Sliding context windows (W=32, stride=24) over md5-synthetic
    token arrays: byte-exact window CONTENT via md5 of the comma-joined
    tokens — pure row-local generate, no shuffle."""
    from boon_spark.operators.tokens import token_windows
    return token_windows(_tok_frame(spark, sf_dir, "doc_id",
                                    floor=True), 32, 24)


def q_pii_mask(spark, sf_dir):
    """PII masking parity: deterministic PII (email/IP/SSN/CC/phone)
    synthesized from table columns is appended to each document, then
    masked; the oracle reproduces the masked text byte-for-byte (md5
    compared) and the per-kind counts."""
    from boon_spark.operators.pii import mask_pii_col, pii_counts
    t = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com via 10.0."),
        (F.col("n_chars") % 256).cast("string"),
        F.lit(".7 or 555-867-5309 ssn 123-45-6789 "
              "card 4111 1111 1111 1111"))
    cnts = pii_counts(t)
    return _docs(spark, sf_dir, floor=True).select(
        "doc_id", F.md5(mask_pii_col(t)).alias("masked_md5"),
        *[v.alias(f"n_{k}") for k, v in cnts.items()])


#: synthetic multi-line suffix for the C4 gate — the corpus documents
#: are single-line, so the gate appends one line per predicate branch
#: (too few words / javascript / keeper / no terminal punctuation).
_C4_SUFFIX = "\n".join([
    "short line.",
    "JavaScript is required to view this page properly.",
    "A perfectly fine sentence with enough words to pass!",
    "no terminal punctuation here at all",
])


def q_c4_clean(spark, sf_dir):
    """C4-style line cleaning (Raffel et al. 2020 §2.2): terminal-
    punctuation / min-words / javascript line filters + the lorem-ipsum
    / brace / 3-sentence page verdict, byte-exact (md5-compared clean
    text) against the DuckDB oracle.  Pure row-local projection."""
    from boon_spark.operators.cleaning import c4_line_flags
    df = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"), F.lit("\n" + _C4_SUFFIX)))
    f = c4_line_flags(df)
    return f.select(
        "doc_id", F.md5(F.col("clean_text")).alias("clean_md5"),
        "n_lines", "n_lines_kept",
        F.col("keep").cast("bigint").alias("keep"))


def q_boilerplate(spark, sf_dir):
    """Corpus-frequent ("boilerplate") line removal, CCNet/RefinedWeb-
    style: line document frequencies via an 8-byte-hash aggregation,
    hot lines (df >= 100) removed row-locally.  The gate appends one of
    three synthetic boilerplate variants per document (the corpus has
    no naturally repeated lines), so each variant's df is n_docs/3 at
    any sf; clean text is md5-compared byte-for-byte."""
    from boon_spark.operators.cleaning import remove_boilerplate
    df = _docs(spark, sf_dir).withColumn(
        "text", F.concat(
            F.col("text"), F.lit("\nSubscribe to our newsletter issue "),
            (F.col("doc_id") % 3).cast("string")))
    out = remove_boilerplate(df, min_df=100)
    return out.select(
        "doc_id", F.md5(F.col("clean_text")).alias("clean_md5"),
        "n_lines_removed")


def q_vocab_topk(spark, sf_dir):
    """Corpus top-20 tokens over the shared normalization — the classic
    vocabulary-build aggregation (one token shuffle with map-side
    partial counts); ties broken by ascending token so the rank is a
    total order both engines reproduce."""
    from boon_spark.operators.cleaning import vocab_topk
    return vocab_topk(_docs(spark, sf_dir), 20)


def _doc_lens(spark, sf_dir, floor=False):
    """(doc_id, n_tok, source) — whitespace token counts, the shared
    length frame for the sequence-packing gates (same token definition
    as the token_count gate)."""
    return _docs(spark, sf_dir, floor=floor).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("int")
        .alias("n_tok"),
        "source")


def q_seq_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing at C=128: per-document global
    stream offsets and spanned-chunk range via the DISTRIBUTED two-level
    prefix sum (quantile-bucketed cumsum — never a single-partition
    global window); the oracle uses the plain SQL window form."""
    from boon_spark.operators.packing import pack_chunks
    return pack_chunks(_doc_lens(spark, sf_dir), 128).select(
        "doc_id", "start_tok", "end_tok", "first_chunk", "last_chunk",
        "n_chunks")


def q_pack_stats(spark, sf_dir):
    """One-row packing audit at C=128: chunk counts, tail padding,
    boundary-crossing documents, and the pad-to-C no-packing baseline."""
    from boon_spark.operators.packing import packing_stats
    return packing_stats(_doc_lens(spark, sf_dir), 128)


def q_chunk_fill(spark, sf_dir):
    """Per-chunk fill from the chunk↔document provenance map: every
    chunk must hold exactly C tokens except the last."""
    from boon_spark.operators.packing import chunk_doc_map
    return (chunk_doc_map(_doc_lens(spark, sf_dir), 128)
            .groupBy("chunk_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tok_in_chunk").cast("bigint").alias("n_tok")))


def q_trunc_stats(spark, sf_dir):
    """Context-length budgeting per source at max_len=64: documents over
    budget, truncation losses, padding waste."""
    from boon_spark.operators.packing import truncation_stats
    return truncation_stats(_doc_lens(spark, sf_dir), 64)


#: k-gram gate generator: 5-doc groups share a token prefix; every
#: 97th doc joins one corpus-wide "boilerplate" group whose common
#: k-grams blow past max_bucket and get hot-dropped (Spark / DuckDB
#: spellings of the same integral expression)
_KGRAM_GEN = ("CASE WHEN doc_id % 97 = 0 THEN CAST(-1 AS BIGINT) "
              "ELSE doc_id div 5 END")
_KGRAM_GEN_SQL = "CASE WHEN doc_id % 97 = 0 THEN -1 ELSE doc_id // 5 END"


def _tok_frame(spark, sf_dir, gen: str, floor=False):
    """(doc_id, n_tok, source, g, tokens) — deterministic md5-derived
    array<int> tokens over the shared length frame, so the token-array
    gates exercise real integer-array plumbing with a SQL oracle."""
    from boon_spark.operators.tokens import synthetic_tokens
    return synthetic_tokens(
        _doc_lens(spark, sf_dir, floor=floor)
        .withColumn("g", F.expr(gen)),
        gen_col="g")


def q_token_topk(spark, sf_dir):
    """Corpus token-id histogram top-20 over array<int> tokens (explode
    + map-side-combined count + TakeOrderedAndProject)."""
    from boon_spark.operators.tokens import token_topk
    return token_topk(_tok_frame(spark, sf_dir, "doc_id",
                                 floor=True), 20)


def q_oov_stats(spark, sf_dir):
    """Out-of-vocab audit per source at vocab_size=900 over vocab-997
    synthetic tokens — row-local size(filter(...)), one group shuffle."""
    from boon_spark.operators.tokens import oov_stats
    return oov_stats(_tok_frame(spark, sf_dir, "doc_id",
                               floor=True), 900)


def q_chunk_tokens(spark, sf_dir):
    """Materialized training chunks over md5-synthetic token arrays at
    C=128 — byte-exact chunk CONTENT (md5 of the comma-joined tokens),
    pinning slice arithmetic, shuffle-by-chunk, and stream-order
    reassembly end-to-end."""
    from boon_spark.operators.packing import materialize_chunks
    out = materialize_chunks(_tok_frame(spark, sf_dir, "doc_id"), 128)
    return out.select(
        "chunk_id",
        # array cast, not F.transform: a HOF would knock the md5
        # projection out of whole-stage codegen (CLAUDE.md); casting
        # array<int> -> array<string> renders identically
        F.md5(F.array_join(F.col("tokens").cast("array<string>"), ","))
        .alias("tokens_md5"),
        "n_tok", "n_docs")


def q_span_dedup(spark, sf_dir):
    """Span-level duplicate REMOVAL (Lee et al. 2022, k-gram form):
    tokens covered by a corpus-hot k-gram (document frequency >= 6 —
    the synthetic boilerplate group spans 6 docs at sf0.01) are deleted
    from every document; byte-exact surviving content via md5.  Hot set
    via one count-only aggregation, applied as a row-local coverage
    mask — the corpus never shuffles."""
    from boon_spark.operators.tokens import remove_hot_kgram_spans
    return remove_hot_kgram_spans(
        _tok_frame(spark, sf_dir, _KGRAM_GEN, floor=True), 5, min_df=6)


def q_bloom_member(spark, sf_dir):
    """Deterministic Bloom-filter membership audit (blocklist/seen-set
    shape): every document key tested against the even-n_chars member
    subset through a deliberately TINY bitmap (m=512, k=2) so false
    positives are guaranteed — and reproduced bit-identically by the
    oracle, which builds the same md5 bloom.  Corpus-side check is a
    zero-shuffle broadcast-bitmap map; the exact-truth join here exists
    to price the FP rate."""
    from boon_spark.operators.membership import membership_report
    docs = _docs(spark, sf_dir)
    members = docs.filter(F.col("n_chars") % 2 == 0)
    return membership_report(docs, members, key_col="doc_id",
                             m_bits=512, k_hashes=2)


def q_source_cap(spark, sf_dir):
    """Per-source deterministic cap (the per-domain cap of web-corpus
    curation): keep at most 10 docs per source, chosen by md5 key-hash
    rank with ascending-id tiebreak — rerun/partitioning-stable, and
    monotone in k.  The oracle reproduces the same (hash, key)
    row_number ordering bit-for-bit."""
    from boon_spark.operators.sampling import group_cap
    return group_cap(_docs(spark, sf_dir), 10, group_col="source",
                     key_col="doc_id", seed=3).select(
        "doc_id", "source", F.col("cap_rank").cast("long").alias("cap_rank"))


def q_lm_score(spark, sf_dir):
    """CCNet-style bigram-LM perplexity scoring over the synthetic
    token corpus (fit == score): per-doc exact-integer NLL in
    64th-nats via the shared ln-boundary table — Python computes
    B_i = ceil(e^(i/64)) once, both engines count boundaries <= x, so
    no float ln ever crosses an engine (the BM25 lesson, taken one
    step further)."""
    from boon_spark.operators.lm import fit_bigram_lm, score_bigram_lm
    tok = _tok_frame(spark, sf_dir, "doc_id", floor=True)
    model = fit_bigram_lm(tok)
    return score_bigram_lm(tok, model)


def q_nchars_buckets(spark, sf_dir):
    """Equal-frequency quartile buckets over n_chars (fit thresholds =
    exact discrete quantiles; apply = codegen'd CASE, zero shuffle):
    per-bucket (n, lo, hi) audit — the stratification every
    length-balanced mixing/eval split needs."""
    from boon_spark.operators.stats import quantile_bucket_stats
    return quantile_bucket_stats(_docs(spark, sf_dir), "n_chars", 4)


def q_nchars_outliers(spark, sf_dir):
    """Median/MAD robust-outlier audit over n_chars — integer 1.5-MAD
    rule (2|v-med| > 3·mad), med and mad exact discrete quantiles."""
    from boon_spark.operators.stats import robust_outlier_summary
    return robust_outlier_summary(_docs(spark, sf_dir), "n_chars")


def q_event_windows(spark, sf_dir):
    """Tumbling 6-hour event-time windows per event_type — the
    fixed-window counterpart of `sessions`, epoch-aligned exactly like
    Spark's built-in F.window so the streaming variant (native
    watermark + windowed agg) emits the same integers (pinned)."""
    from boon_spark.operators.windows import window_counts
    ev = _read(spark, f"{sf_dir}/events.parquet", floor=False)
    return window_counts(ev, window="6 hours", group_col="event_type")


def q_source_topk(spark, sf_dir):
    """Per-source top-3 token ids (heavy hitters per group) over the
    synthetic token corpus — (n desc, token asc) rank within each
    source."""
    from boon_spark.operators.cleaning import group_topk
    tok = _tok_frame(spark, sf_dir, "doc_id", floor=True)
    agg = (tok.select("source", F.explode("tokens").alias("token"))
           .groupBy("source", "token")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
           .withColumn("token", F.col("token").cast("bigint")))
    return group_topk(agg, 3, group_col="source")


def q_fertility(spark, sf_dir):
    """Tokenizer fertility audit per source: chars-per-token in exact
    integer ppm — the audit a tokenizer swap runs (fertility up =
    vocab splits this source into more pieces).  Zero-token docs are
    counted but excluded from the ratio, both engines."""
    from boon_spark.operators.text import fertility_stats
    # explicit class, not \s: Java \s includes \x0B, RE2's does not —
    # the class spells the union so both engines tokenize identically
    frame = _docs(spark, sf_dir).select(
        "source", "n_chars",
        F.coalesce(F.size(F.split(F.trim(F.col("text")),
                                  "[ \\t\\n\\f\\r\\x0B]+")),
                   F.lit(0)).cast("long").alias("n_tok"))
    return fertility_stats(frame)


def q_compaction(spark, sf_dir):
    """Small-files compaction plan per source partition (byte proxy =
    n_chars, target 2000): exact integer ceilings for file counts and
    rows-per-file — one partially-aggregated shuffle produces the
    whole 10^12-row maintenance plan."""
    from boon_spark.operators.stats import compaction_plan
    return compaction_plan(_docs(spark, sf_dir), partition_col="source",
                           bytes_col="n_chars", target_bytes=2000)


def q_lm3_score(spark, sf_dir):
    """Stupid-backoff trigram LM (Brants et al. 2007) over the
    synthetic token corpus: three-arm backoff (trigram -> 0.4·bigram
    -> 0.4²·unigram) with the discount as the shared integer literal
    round(64·ln 0.4) = -59 — the whole score stays in exact q64
    integers."""
    from boon_spark.operators.lm import fit_backoff_lm, score_backoff_lm
    tok = _tok_frame(spark, sf_dir, "doc_id", floor=True)
    return score_backoff_lm(tok, fit_backoff_lm(tok))


def q_pmi_topk(spark, sf_dir):
    """Top-20 token collocations by quantized PMI (min_count=3) over
    the synthetic token corpus — four-term integer PMI on the shared
    ln-boundary table (no products, overflow-free at any corpus
    size), total order (pmi desc, w1, w2)."""
    from boon_spark.operators.lm import pmi_collocations
    return pmi_collocations(_tok_frame(spark, sf_dir, "doc_id",
                                       floor=True), 20,
                            min_count=3)


def q_sessions(spark, sf_dir):
    """Gap-based sessionization over the events table (gap = 12 hours;
    median per-user gap at sf0.01 is ~7.3h, so sessions split for
    real): per-session (n_events, start_ms, end_ms, duration_ms), all
    integer-exact epoch ms.  Boundaries reproduce bit-exactly in the
    oracle — same (ts, event_id) ordering, same integer gap test."""
    from boon_spark.operators.sessions import session_stats
    ev = _read(spark, f"{sf_dir}/events.parquet", floor=False)
    return session_stats(ev, gap="12 hours")


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-count over event ids (p=8,
    raw-estimate regime at sf0.01): integer-exact internals — occupied
    registers, the scaled harmonic sum, and the raw estimate as one
    decimal integral division — reproduce bit-identically in the
    oracle, estimation error included.  Spark's approx_count_distinct
    can't be verified this way (implementation-defined hashing)."""
    from boon_spark.operators.sketches import hll_report
    ev = _read(spark, f"{sf_dir}/events.parquet", floor=False)
    return hll_report(ev, key_col="event_id", p=8).select(
        "n_occupied", "n_zero", "harmonic_scaled", "est_raw")


def q_cms_freq(spark, sf_dir):
    """Count-Min frequency audit: top-15 n_chars values by exact count
    with their CMS estimates (depth=3, width=64 — deliberately small so
    collisions overestimate, reproduced bit-exactly by the oracle which
    builds the same cells).  est_n >= exact_n always (the Count-Min
    guarantee)."""
    from boon_spark.operators.sketches import cms_topk_report
    return cms_topk_report(_docs(spark, sf_dir), 15, key_col="n_chars",
                           depth=3, width=64)


def q_token_kgram(spark, sf_dir):
    """Token-level 5-gram duplicate candidates (Lee et al. 2022-style
    duplicated-span detection): shared-prefix groups yield pairs;
    the boilerplate group's hot k-grams are max_bucket-dropped."""
    from boon_spark.operators.tokens import token_kgram_candidates
    return token_kgram_candidates(
        _tok_frame(spark, sf_dir, _KGRAM_GEN), 5,
        min_shared=5, max_bucket=40)


def q_minhash_head(spark, sf_dir):
    """MinHash parity probe: first signature component (min md5-derived
    hash over word-3-gram shingles) per document — proves the full
    shingle→hash→min pipeline matches the oracle bit-for-bit."""
    from boon_spark.operators.dedup import minhash_signature, word_shingles
    return _docs(spark, sf_dir, floor=True).select(
        "doc_id",
        F.element_at(minhash_signature(
            word_shingles(F.col("text"), 3), 1), 1).alias("sig0"))


def q_simhash_docs(spark, sf_dir):
    """64-bit SimHash fingerprints (Arrow-batched pandas UDF), oracle-
    checked bit-for-bit against a DuckDB reimplementation of the full
    shingle→md5→bit-vote pipeline."""
    from boon_spark.operators.dedup import simhash64
    return _docs(spark, sf_dir, floor=True).select(
        "doc_id", simhash64(F.col("text")).alias("fp"))


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-duplicate pairs (md5 hash family so the full
    shingle→minhash→band→bucket→Jaccard pipeline is reproduced in the
    DuckDB oracle; the driver documents corpus contains ~26 genuine
    near-dup pairs at jaccard >= 0.9)."""
    from boon_spark.operators.dedup import minhash_lsh_pairs
    # max_bucket passed EXPLICITLY: the oracle's 'BETWEEN 2 AND 64'
    # must track this value, not a retunable operator default
    return minhash_lsh_pairs(_docs(spark, sf_dir, floor=True), num_hashes=16, bands=8,
                             jaccard_threshold=0.5, hash_family="md5",
                             max_bucket=64) \
        .select("id_a", "id_b")


def _dedup_cluster_labels(spark, sf_dir):
    """(node, component) labels: connected components over the SAME
    minhash pair set as q_minhash_pairs — one parameterization so the
    cluster gates and the pair gate describe one pipeline."""
    from boon_spark.operators.clusters import connected_components
    from boon_spark.operators.dedup import minhash_lsh_pairs
    pairs = minhash_lsh_pairs(_docs(spark, sf_dir, floor=True), num_hashes=16, bands=8,
                              jaccard_threshold=0.5, hash_family="md5",
                              max_bucket=64)
    return connected_components(pairs)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster labels: alternating large-star/small-star
    connected components over the minhash pair graph; cluster_id = min
    doc_id of the component (oracle: recursive min-label CTE)."""
    return _dedup_cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"))


def q_dedup_keep(spark, sf_dir):
    """One canonical survivor per near-dup cluster: highest n_chars,
    ties to the smallest doc_id (total order — oracle-comparable)."""
    from boon_spark.operators.clusters import keep_canonical
    return keep_canonical(_docs(spark, sf_dir),
                          _dedup_cluster_labels(spark, sf_dir),
                          quality_col="n_chars")


def q_cluster_stats(spark, sf_dir):
    """Cluster-size histogram — the audit companion for cluster
    resolution (how much of the corpus is duplicated, in what blob
    sizes)."""
    from boon_spark.operators.clusters import cluster_size_stats
    return cluster_size_stats(_dedup_cluster_labels(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    """exact word-3-gram Jaccard pairs within (source, lang) blocks."""
    from boon_spark.operators.dedup import ngram_jaccard_pairs
    docs = _docs(spark, sf_dir, floor=True).withColumn(
        "blk", F.concat_ws("|", "source", "lang"))
    return (ngram_jaccard_pairs(docs, group_col="blk", threshold=0.5)
            .select("id_a", "id_b"))


def q_embedding_near_dups(spark, sf_dir):
    """LSH-bucketed near-dup pairs over embeddings, integer-exact
    variant: quantized coordinates + integer hyperplanes + squared-cosine
    verify (cos >= 2/5), so the DuckDB oracle reproduces it bit-for-bit
    (8 pairs at sf0.01 — the round-1 float gate returned 0 rows)."""
    from boon_spark.operators.dedup import embedding_near_dups_quantized
    emb = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    return embedding_near_dups_quantized(
        emb, dim=64, threshold_num=2, threshold_den=5, bits=4, seed=42) \
        .select("id_a", "id_b")


def q_contamination(spark, sf_dir):
    """Train/benchmark decontamination: corpus docs whose shingle
    CONTAINMENT of a benchmark doc (sources src0/src1 stand in for the
    benchmark) reaches 0.5 — md5 hash family so the full n-gram
    COLLISION-INDEX pipeline (shingle hash → df-cap → cross-table join
    → exact containment verify; the containment metric does not use
    MinHash banding) is oracle-reproduced (4 genuine hits at sf0.01,
    containment 0.97-1.0)."""
    from boon_spark.operators.dedup import cross_table_contamination
    docs = _docs(spark, sf_dir, floor=True)
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    corpus = docs.filter(~F.col("source").isin("src0", "src1"))
    # max_df passed EXPLICITLY: the oracle's 'HAVING count(*) > 10000'
    # must track this value, not a retunable operator default
    return cross_table_contamination(
        corpus, bench, threshold=0.5, metric="containment",
        hash_family="md5", max_df=10_000) \
        .select("corpus_id", "benchmark_id")


def q_lsh_topk(spark, sf_dir):
    """Approximate ANN top-k (the scale path), integer-exact variant:
    quantized coordinates, integer-hyperplane SimHash buckets with
    multiprobe, capped hot buckets, and a scaled quantized-cos² integer
    rank key — bit-identical in the DuckDB oracle (float LSH risks
    sign/rank flips between engines)."""
    from boon_spark.operators.similarity import lsh_topk_quantized
    emb = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    qs = emb.filter(F.col("vec_id") < 5)
    return lsh_topk_quantized(emb, qs, k=5, dim=64).select(
        "query_id", "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"))


def q_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) ANN: deterministic hash-seeded Lloyd
    clustering, then each query scans its n_probe nearest cells.

    Oracle-paired via the IVF **completeness property** (VERDICT r4 #2):
    with ``n_probe == n_centroids`` and ``max_cell=None`` the cell
    partition is exhaustive, so the result EQUALS the exact cosine top-k
    — which IS SQL-expressible.  The iterative Lloyd fit still runs in
    full (2 iterations, 16 cells, assignment joins, mean aggregations),
    so the whole pipeline is exercised and checked; only the recall of
    REDUCED probing is left to unit tests
    (test_similarity_ids::test_ivf_topk_recall_and_determinism)."""
    from boon_spark.operators.similarity import ivf_topk
    emb = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    qs = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=16,
                    max_cell=None).select(
        "query_id", "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"))


def q_lsh_q_stats(spark, sf_dir):
    """The no-silent-truncation audit companion, itself oracle-audited
    (VERDICT r4 #6): bucket-size stats over the INTEGER signatures
    lsh_topk_quantized joins on — same generated hyperplanes, same
    clean-row predicate, bit-exact in DuckDB."""
    from boon_spark.operators.similarity import lsh_quantized_bucket_stats
    emb = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    return lsh_quantized_bucket_stats(emb, dim=64, max_bucket=1024)


def _search_queries(spark, sf_dir):
    """Deterministic query set for the lexical-search gates: every 23rd
    document's first 5 normalized tokens (derived from the corpus itself
    — the oracle synthesizes the identical set in SQL)."""
    from boon_spark.operators.search import doc_tokens
    return (_docs(spark, sf_dir).filter(F.col("doc_id") % 23 == 5)
            .select(F.col("doc_id").alias("query_id"),
                    F.array_join(F.slice(doc_tokens(F.col("text")), 1, 5),
                                 " ").alias("query_text")))


def q_bm25_topk(spark, sf_dir):
    """Lexical (BM25) top-5 per query, integer-quantized scoring —
    bit-identical in DuckDB (float BM25's ln() terms can differ in the
    last ulp between engines and flip ranks; see operators/search.py).
    Scale shape: row-local posting explode gated by a BROADCAST join on
    the query-term set — only matching postings shuffle."""
    from boon_spark.operators.search import bm25_topk
    return bm25_topk(_docs(spark, sf_dir, floor=True),
                     _search_queries(spark, sf_dir),
                     k=5)


def q_bm25_df_stats(spark, sf_dir):
    """Audit companion for bm25_topk: per-term document frequency and
    quantized idf over the same matched-posting frame the score uses."""
    from boon_spark.operators.search import bm25_df_stats
    return bm25_df_stats(_docs(spark, sf_dir, floor=True),
                         _search_queries(spark, sf_dir))


def q_multimodal_decode(spark, sf_dir):
    """multimodal decode plumbing end-to-end: documents.text encoded to a
    binary payload column, decoded via mapInPandas with the deterministic
    fake kernel (real kernels need image libs absent from this container;
    the Arrow batch shape, schema, and byte handling are what's tested).
    The oracle reproduces the byte arithmetic with hex(encode(text))."""
    from boon_spark.operators.multimodal import (decode_images,
                                                 deterministic_fake_decoder)
    docs = _docs(spark, sf_dir, floor=True).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("payload"))
    out = decode_images(docs, decoder=deterministic_fake_decoder)
    return out.select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("channels").cast("bigint").alias("channels"),
        F.size("features").cast("bigint").alias("n_features"))


def q_embedding_topk(spark, sf_dir):
    """brute-force cosine top-k: 3 nearest neighbors for vec_id < 5.

    Scale path: the query set is broadcast; the corpus side streams —
    no shuffle of the big table until the per-partition top-k, then a
    tiny global top-k (window over ≤ k·P rows)."""
    from boon_spark.operators.similarity import cosine_topk
    emb = _read(spark, f"{sf_dir}/embeddings.parquet", floor=False)
    queries = emb.filter(F.col("vec_id") < 5)
    return (cosine_topk(emb, queries, k=3, id_col="vec_id",
                        vec_col="embedding")
            .select("query_id", "neighbor_id", F.col("rank").cast("bigint")
                    .alias("rank")))


# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ordering = driver CORRECTNESS window rotation (r7, VERDICT r6
    # #1): the driver verifies the FIRST 50 entries, so the 33 gates
    # that have never had a driver row lead, followed by 17 sentinel
    # gates spanning the SURVEY families; previously-verified gates
    # close the dict.  Ordering only — every query and its oracle
    # SQL are unchanged.
    "mix_stats": q_mix_stats,
    "curation_pipeline": q_curation_pipeline,
    "nchars_quantiles": q_nchars_quantiles,
    "snapshot_diff": q_snapshot_diff,
    "token_windows": q_token_windows,
    "split_counts": q_split_counts,
    "pii_mask": q_pii_mask,
    "c4_clean": q_c4_clean,
    "boilerplate": q_boilerplate,
    "vocab_topk": q_vocab_topk,
    "seq_pack": q_seq_pack,
    "pack_stats": q_pack_stats,
    "chunk_fill": q_chunk_fill,
    "trunc_stats": q_trunc_stats,
    "token_topk": q_token_topk,
    "oov_stats": q_oov_stats,
    "token_kgram": q_token_kgram,
    "span_dedup": q_span_dedup,
    "chunk_tokens": q_chunk_tokens,
    "bloom_member": q_bloom_member,
    "source_cap": q_source_cap,
    "hll_distinct": q_hll_distinct,
    "cms_freq": q_cms_freq,
    "sessions": q_sessions,
    "lm_score": q_lm_score,
    "pmi_topk": q_pmi_topk,
    "event_windows": q_event_windows,
    "source_topk": q_source_topk,
    "nchars_buckets": q_nchars_buckets,
    "nchars_outliers": q_nchars_outliers,
    "lm3_score": q_lm3_score,
    "fertility_stats": q_fertility,
    "compaction_plan": q_compaction,
    "range_nchars": q_range_nchars,
    "enum_lang": q_enum_lang,
    "unevaluated_dynamic": q_unevaluated_dynamic,
    "recursive_tree": q_recursive_tree,
    "content_json_events": q_content_json_events,
    "flag_documents": q_flag_documents,
    "unique_custkey": q_unique_custkey,
    "referential_custkey": q_referential_custkey,
    "stats_by_source": q_stats_by_source,
    "drift_nchars": q_drift_nchars,
    "dedup_exact": q_dedup_exact,
    "minhash_pairs": q_minhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "contamination": q_contamination,
    "bm25_topk": q_bm25_topk,
    "lsh_topk": q_lsh_topk,
    "repetition_metrics": q_repetition_metrics,
    "pattern_source": q_pattern_source,
    "length_text": q_length_text,
    "multipleof_psize": q_multipleof_psize,
    "items_bounds_embedding": q_items_bounds_embedding,
    "contains_embedding": q_contains_embedding,
    "logic_ifthen": q_logic_ifthen,
    "logic_combo": q_logic_combo,
    "const_exclusive": q_const_exclusive,
    "format_date": q_format_date,
    "format_annotation_mode": q_format_annotation_mode,
    "summary_documents": q_summary_documents,
    "invariant_nchars": q_invariant_nchars,
    "validate_table_docs": q_validate_table_docs,
    "equality_docs": q_equality_docs,
    "skew_stats": q_skew_stats,
    "fingerprint": q_fingerprint,
    "token_count": q_token_count,
    "quality_counts": q_quality_counts,
    "embedding_topk": q_embedding_topk,
    "multimodal_decode": q_multimodal_decode,
    "lang_id_counts": q_lang_id_counts,
    "token_count_bpe": q_token_count_bpe,
    "minhash_head": q_minhash_head,
    "simhash_docs": q_simhash_docs,
    "dedup_keep": q_dedup_keep,
    "cluster_stats": q_cluster_stats,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_near_dups": q_embedding_near_dups,
    "bm25_df_stats": q_bm25_df_stats,
    "lsh_q_stats": q_lsh_q_stats,
    "ivf_topk": q_ivf_topk,
    "gopher_flags": q_gopher_flags,
    "hash_sample": q_hash_sample,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full constraint suite over sf0.001 documents → violations."""
    sf_dir = "/root/testdata/sf0.001"
    df = _docs(spark, sf_dir)
    eng = Engine.from_schema({
        "type": "object",
        "required": ["doc_id", "text", "source"],
        "properties": {
            "n_chars": {"type": "integer", "minimum": 0, "maximum": 400},
            "lang": {"enum": ["en", "de", "fr", "es", "zh"]},
            "source": {"type": "string", "pattern": "^src[0-9]+$"},
            "text": {"minLength": 10},
        },
    }, row_id="doc_id")
    return eng.validate(df).violations()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def _lsh_topk_oracle() -> str:
    from boon_spark.operators.similarity import lsh_topk_quantized_oracle_sql
    return lsh_topk_quantized_oracle_sql(k=5, dim=64,
                                         query_pred="vid < 5")


def _snapshot_diff_oracle() -> str:
    from boon_spark.operators.equality import snapshot_diff_oracle_sql
    new_sql = """SELECT doc_id,
                        CASE WHEN doc_id % 13 = 1 THEN text || ' v2'
                             ELSE text END AS text, source
                 FROM documents WHERE doc_id % 11 <> 3
                 UNION ALL
                 SELECT doc_id + 1000000, text, source
                 FROM documents WHERE doc_id % 17 = 2"""
    return snapshot_diff_oracle_sql(
        columns=["text", "source"],
        old_sql="SELECT doc_id, text, source FROM documents",
        new_sql=new_sql)


def _nchars_quantiles_oracle() -> str:
    from boon_spark.operators.stats import value_quantiles_oracle_sql
    return value_quantiles_oracle_sql("n_chars", by="source")


def _curation_pipeline_oracle() -> str:
    from boon_spark.operators.pipeline import curation_stats_oracle_sql
    return curation_stats_oracle_sql(thresholds=_CURATE_TH)


def _mix_stats_oracle() -> str:
    from boon_spark.operators.mixing import mix_stats_oracle_sql
    from boon_spark.operators.search import _dl_sql
    return mix_stats_oracle_sql(_MIX_TARGETS, weight_sql=_dl_sql("text"))


def _sampling_oracles() -> dict[str, str]:
    from boon_spark.operators.sampling import (hash_sample_oracle_where,
                                               split_assign_oracle_case)
    where = hash_sample_oracle_where(key_sql="doc_id", fraction=0.3,
                                     seed=7)
    case = split_assign_oracle_case(
        key_sql="doc_id",
        weights={"train": 0.8, "val": 0.1, "test": 0.1}, seed=1)
    from boon_spark.operators.sampling import group_cap_oracle_sql
    cap_frag = group_cap_oracle_sql(table_sql="documents", k=10,
                                    group_sql="source", key_sql="doc_id",
                                    seed=3)
    return {
        "hash_sample": f"SELECT doc_id FROM documents WHERE {where}",
        "source_cap": ("SELECT doc_id, source, "
                       "CAST(cap_rank AS BIGINT) AS cap_rank "
                       f"FROM {cap_frag}"),
        "mix_stats": _mix_stats_oracle(),
        "curation_pipeline": _curation_pipeline_oracle(),
        "nchars_quantiles": _nchars_quantiles_oracle(),
        "snapshot_diff": _snapshot_diff_oracle(),
        "split_counts": f"""
            SELECT split, source, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT {case} AS split, source FROM documents)
            GROUP BY split, source
        """,
    }


def _pii_oracle() -> dict[str, str]:
    from boon_spark.operators.pii import (mask_pii_oracle_expr,
                                          pii_counts_oracle_exprs)
    t = ("concat(text, ' contact user', CAST(doc_id AS VARCHAR), "
         "'@example.com via 10.0.', CAST(n_chars % 256 AS VARCHAR), "
         "'.7 or 555-867-5309 ssn 123-45-6789 "
         "card 4111 1111 1111 1111')")
    counts = pii_counts_oracle_exprs(t)
    cols = ", ".join(f"{sql} AS n_{k}" for k, sql in counts.items())
    return {"pii_mask": f"""
        SELECT doc_id, md5({mask_pii_oracle_expr(t)}) AS masked_md5,
               {cols}
        FROM documents
    """}


def _repetition_oracles() -> dict[str, str]:
    from boon_spark.operators.repetition import (
        gopher_flags_oracle_sql, repetition_metrics_oracle_sql)
    return {"repetition_metrics": repetition_metrics_oracle_sql(),
            "gopher_flags": gopher_flags_oracle_sql()}


# the full shingle→minhash→band→bucket→Jaccard pipeline as CTEs, shared
# by the minhash_pairs gate and the three cluster-resolution gates built
# on its pair graph — ONE text, so the four oracles cannot band or
# verify differently
_MINHASH_PAIR_CTES = """
            norm AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS words
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(words) - 3, 0) + 2),
                       i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS shingles
              FROM norm
              WHERE len(list_distinct(list_transform(
                       range(1, greatest(len(words) - 3, 0) + 2),
                       i -> array_to_string(list_slice(words, i, i + 2), ' ')))) > 0),
            sig AS (
              SELECT doc_id, shingles,
                     list_transform(range(0, 16),
                       hh -> list_min(list_transform(shingles,
                         s -> CAST(concat('0x', substr(md5(concat(s, '#', hh)), 1, 15)) AS BIGINT)))) AS sg
              FROM sh),
            banded AS (
              SELECT doc_id, shingles, b,
                     CAST(concat('0x', substr(md5(
                       CAST(sg[2*b + 1] AS VARCHAR) || ',' || CAST(sg[2*b + 2] AS VARCHAR)
                     ), 1, 15)) AS BIGINT) AS key
              FROM sig, range(0, 8) t(b)),
            buckets AS (
              SELECT b, key FROM banded GROUP BY b, key
              HAVING count(*) BETWEEN 2 AND 64),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                     x.shingles AS sa, y.shingles AS sb
              FROM banded x
              JOIN buckets u ON x.b = u.b AND x.key = u.key
              JOIN banded y ON y.b = u.b AND y.key = u.key
                           AND x.doc_id < y.doc_id),
            mh_pairs AS (
              SELECT DISTINCT id_a, id_b FROM cand
              WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                    / (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5)"""

# connected components over the pair graph as a recursive min-label
# walk: every (node, reachable-node) pair is enumerated (UNION dedups,
# so the recursion terminates), then min over the reachable set = the
# component minimum — exactly connected_components' label contract.
# Tractable in the oracle because near-dup components are tiny; the
# engine side uses the O(log n) alternating-star algorithm instead.
_CLUSTER_CTES = _MINHASH_PAIR_CTES + """,
            edges AS (
              SELECT id_a AS u, id_b AS v FROM mh_pairs
              UNION
              SELECT id_b AS u, id_a AS v FROM mh_pairs),
            walk(node, lbl) AS (
              SELECT u, u FROM edges
              UNION
              SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node),
            labels AS (
              SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY node)"""


def _cluster_oracles() -> dict[str, str]:
    """minhash_pairs + the three cluster-resolution gates, all built on
    the one shared pair-pipeline CTE text."""
    return {
        "minhash_pairs": f"""
            WITH {_MINHASH_PAIR_CTES}
            SELECT id_a, id_b FROM mh_pairs
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_CLUSTER_CTES}
            SELECT node AS doc_id, cluster_id FROM labels
        """,
        "dedup_keep": f"""
            WITH RECURSIVE {_CLUSTER_CTES},
            mem AS (
              SELECT l.cluster_id, l.node AS did, d.n_chars
              FROM labels l JOIN documents d ON d.doc_id = l.node),
            ranked AS (
              SELECT cluster_id, did,
                     row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY (n_chars IS NOT NULL) DESC,
                                n_chars DESC, did ASC) AS rn,
                     count(*) OVER (PARTITION BY cluster_id) AS n_members
              FROM mem)
            SELECT cluster_id, did AS keep_id,
                   CAST(n_members AS BIGINT) AS n_members
            FROM ranked WHERE rn = 1 AND n_members >= 2
        """,
        "cluster_stats": f"""
            WITH RECURSIVE {_CLUSTER_CTES},
            sizes AS (
              SELECT cluster_id, count(*) AS cluster_size
              FROM labels GROUP BY cluster_id)
            SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                   CAST(count(*) AS BIGINT) AS n_clusters
            FROM sizes GROUP BY cluster_size
        """,
    }


#: the _search_queries synthesis in DuckDB (list_slice is 1-based
#: INCLUSIVE, so [1:5] = the first 5 tokens, matching Spark slice(_,1,5))
_SEARCH_QUERIES_SQL = """SELECT doc_id AS query_id,
           array_to_string(list_slice(
             string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
             1, 5), ' ') AS query_text
       FROM documents WHERE doc_id % 23 = 5"""


def _bm25_oracles() -> dict[str, str]:
    from boon_spark.operators.search import (bm25_df_stats_oracle_sql,
                                             bm25_topk_oracle_sql)
    return {
        "bm25_topk": bm25_topk_oracle_sql(
            queries_sql=_SEARCH_QUERIES_SQL, k=5),
        "bm25_df_stats": bm25_df_stats_oracle_sql(
            queries_sql=_SEARCH_QUERIES_SQL),
    }


def _cleaning_oracles() -> dict[str, str]:
    from boon_spark.operators.cleaning import (
        c4_clean_oracle_sql, remove_boilerplate_oracle_sql,
        vocab_topk_oracle_sql)
    nl = "chr(10)"
    # single quotes escaped: a suffix line like "isn't enabled" must
    # become a valid SQL literal, not a parse error
    _sfx = _C4_SUFFIX.replace("'", "''")
    c4_text = f"(text || {nl} || '" + _sfx.replace("\n", f"' || {nl} || '") + "')"
    extra = ("concat('Subscribe to our newsletter issue ', "
             "CAST(doc_id % 3 AS VARCHAR))")
    return {
        "c4_clean": c4_clean_oracle_sql(text_sql=c4_text),
        "boilerplate": remove_boilerplate_oracle_sql(
            min_df=100, extra_line_sql=extra),
        "vocab_topk": vocab_topk_oracle_sql(20),
    }


def _packing_oracles() -> dict[str, str]:
    from boon_spark.operators.packing import (
        chunk_doc_map_oracle_sql, pack_chunks_oracle_sql,
        packing_stats_oracle_sql, truncation_stats_oracle_sql)
    return {
        "seq_pack": pack_chunks_oracle_sql(128),
        "pack_stats": packing_stats_oracle_sql(128),
        "chunk_fill": chunk_doc_map_oracle_sql(128),
        "trunc_stats": truncation_stats_oracle_sql(64),
    }


def _tokens_oracles() -> dict[str, str]:
    from boon_spark.operators.packing import materialize_chunks_oracle_sql
    from boon_spark.operators.tokens import (
        oov_stats_oracle_sql, remove_hot_kgram_spans_oracle_sql,
        token_kgram_candidates_oracle_sql, token_topk_oracle_sql,
        token_windows_oracle_sql)
    return {
        "token_topk": token_topk_oracle_sql(20),
        "oov_stats": oov_stats_oracle_sql(900),
        "token_kgram": token_kgram_candidates_oracle_sql(
            5, min_shared=5, gen_sql=_KGRAM_GEN_SQL, max_bucket=40),
        "span_dedup": remove_hot_kgram_spans_oracle_sql(
            5, min_df=6, gen_sql=_KGRAM_GEN_SQL),
        "chunk_tokens": materialize_chunks_oracle_sql(128),
        "token_windows": token_windows_oracle_sql(32, 24),
    }


def _sketch_oracles() -> dict[str, str]:
    from boon_spark.operators.sketches import (cms_topk_oracle_sql,
                                               hll_report_oracle_sql)
    return {
        "hll_distinct": hll_report_oracle_sql(
            corpus_sql="SELECT event_id FROM events",
            key_sql="event_id", p=8),
        "cms_freq": cms_topk_oracle_sql(
            corpus_sql="SELECT n_chars FROM documents",
            key_sql="n_chars", k=15, depth=3, width=64),
        "sessions": _sessions_oracle(),
        "lm_score": _lm_oracle(),
        "pmi_topk": _pmi_oracle(),
        "event_windows": _event_windows_oracle(),
        "source_topk": _source_topk_oracle(),
        "nchars_buckets": _nchars_buckets_oracle(),
        "nchars_outliers": _nchars_outliers_oracle(),
        "lm3_score": _lm3_oracle(),
        "fertility_stats": """
            WITH d AS (
              SELECT source, coalesce(n_chars, 0) AS n_chars,
                     coalesce(len(regexp_split_to_array(trim(text),
                              '[ \\t\\n\\f\\r\\x0B]+')), 0)
                       AS n_tok
              FROM documents)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN n_tok > 0 THEN n_chars
                            ELSE 0 END) AS BIGINT) AS sum_chars,
                   CAST(sum(CASE WHEN n_tok > 0 THEN n_tok
                            ELSE 0 END) AS BIGINT) AS sum_toks,
                   CAST(CASE WHEN sum(CASE WHEN n_tok > 0 THEN n_tok
                                     ELSE 0 END) > 0
                        THEN (sum(CASE WHEN n_tok > 0 THEN n_chars
                                  ELSE 0 END) * 1000000)
                             // sum(CASE WHEN n_tok > 0 THEN n_tok
                                    ELSE 0 END)
                        ELSE NULL END AS BIGINT) AS fertility_ppm
            FROM d GROUP BY source
        """,
        "compaction_plan": """
            WITH agg AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(coalesce(sum(n_chars), 0) AS BIGINT)
                       AS total_bytes
              FROM documents GROUP BY source)
            SELECT source, n_rows, total_bytes,
                   CAST(greatest(1, (total_bytes + 1999) // 2000)
                        AS BIGINT) AS n_files,
                   CAST((n_rows + greatest(1, (total_bytes + 1999)
                                           // 2000) - 1)
                        // greatest(1, (total_bytes + 1999) // 2000)
                        AS BIGINT) AS rows_per_file
            FROM agg
        """,
    }


def _lm3_oracle() -> str:
    from boon_spark.operators.lm import score_backoff_lm_oracle_sql
    return score_backoff_lm_oracle_sql(gen_sql="doc_id")


def _nchars_buckets_oracle() -> str:
    from boon_spark.operators.stats import quantile_bucket_stats_oracle_sql
    return quantile_bucket_stats_oracle_sql("n_chars", 4)


def _nchars_outliers_oracle() -> str:
    from boon_spark.operators.stats import robust_outlier_summary_oracle_sql
    return robust_outlier_summary_oracle_sql("n_chars")


def _event_windows_oracle() -> str:
    from boon_spark.operators.windows import window_counts_oracle_sql
    return window_counts_oracle_sql(
        events_sql="SELECT ts, event_type FROM events",
        window="6 hours", group_sql="event_type")


def _source_topk_oracle() -> str:
    from boon_spark.operators.tokens import _synth_cte
    return f"""
        WITH t AS ({_synth_cte('doc_id', 997)}
        ), e AS (
          SELECT source, CAST(unnest(toks) AS BIGINT) AS token FROM tok
        ), agg AS (
          SELECT source, token, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY source, token
        ), ranked AS (
          SELECT source, token, n,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n DESC, token ASC) AS rank
          FROM agg
        )
        SELECT source, CAST(rank AS BIGINT) AS rank, token, n
        FROM ranked WHERE rank <= 3
    """


def _lm_oracle() -> str:
    from boon_spark.operators.lm import score_bigram_lm_oracle_sql
    return score_bigram_lm_oracle_sql(gen_sql="doc_id")


def _pmi_oracle() -> str:
    from boon_spark.operators.lm import pmi_collocations_oracle_sql
    return pmi_collocations_oracle_sql(20, gen_sql="doc_id",
                                       min_count=3)


def _sessions_oracle() -> str:
    from boon_spark.operators.sessions import session_stats_oracle_sql
    return session_stats_oracle_sql(
        events_sql="SELECT user_id, event_id, ts FROM events",
        gap="12 hours")


def _bloom_member_oracle() -> str:
    from boon_spark.operators.membership import membership_report_oracle_sql
    return membership_report_oracle_sql(
        members_sql="SELECT doc_id FROM documents WHERE n_chars % 2 = 0",
        corpus_sql="SELECT doc_id FROM documents",
        m_bits=512, k_hashes=2)


def _lsh_q_stats_oracle() -> str:
    from boon_spark.operators.similarity import (
        lsh_quantized_bucket_stats_oracle_sql)
    return lsh_quantized_bucket_stats_oracle_sql(dim=64, max_bucket=1024)


def oracle_sql() -> dict[str, str]:
    # the embedding oracle inlines integer-quantized hyperplane constants
    # generated from the same deterministic function the Spark path uses
    from boon_spark.operators.dedup import embedding_near_dups_oracle_sql
    return {
        "range_nchars": """
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/n_chars' AS instance_location,
                   '/properties/n_chars/minimum' AS keyword_location
            FROM documents WHERE n_chars < 100
            UNION ALL
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/n_chars',
                   '/properties/n_chars/maximum'
            FROM documents WHERE n_chars > 400
        """,
        "enum_lang": """
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/lang' AS instance_location,
                   '/properties/lang/enum' AS keyword_location
            FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr')
        """,
        "pattern_source": """
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/source' AS instance_location,
                   '/properties/source/pattern' AS keyword_location
            FROM documents
            WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')
        """,
        "length_text": """
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/text' AS instance_location,
                   '/properties/text/minLength' AS keyword_location
            FROM documents WHERE length(text) < 60
            UNION ALL
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/text',
                   '/properties/text/maxLength'
            FROM documents WHERE length(text) > 500
        """,
        "multipleof_psize": """
            SELECT '/' || CAST(p_partkey AS VARCHAR) || '/p_size' AS instance_location,
                   '/properties/p_size/multipleOf' AS keyword_location
            FROM part WHERE p_size IS NOT NULL AND p_size % 5 <> 0
        """,
        "items_bounds_embedding": """
            SELECT vec_id,
                   coalesce(list_aggregate(
                       list_transform(embedding,
                                      x -> x >= -0.5 AND x <= 0.45),
                       'bool_and'), TRUE) AS valid
            FROM embeddings
        """,
        "contains_embedding": """
            -- a NULL array passes array keywords (absence convention)
            SELECT vec_id,
                   CASE WHEN embedding IS NULL THEN TRUE
                        ELSE len(list_filter(embedding, x -> x > 0.4)) >= 1
                   END AS valid
            FROM embeddings
        """,
        "logic_ifthen": """
            -- the if-subschema is {properties:{lang:{const en}}} with no
            -- "required": a NULL lang PASSES const (absence convention),
            -- so NULL routes to the THEN branch, not else
            SELECT doc_id,
                   CASE WHEN lang = 'en' OR lang IS NULL
                        THEN (n_chars IS NULL OR n_chars <= 400)
                        ELSE (n_chars IS NULL OR n_chars <= 300) END AS valid
            FROM documents
        """,
        "flag_documents": """
            WITH checks AS (
              SELECT (n_chars IS NOT NULL AND n_chars < 100) AS f_min,
                     (n_chars IS NOT NULL AND n_chars > 400) AS f_max,
                     (lang IS NOT NULL AND lang NOT IN ('en','de','fr')) AS f_enum,
                     (source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]$')) AS f_pat
              FROM documents)
            SELECT NOT bool_or(f_min OR f_max OR f_enum OR f_pat) AS valid,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN f_min OR f_max OR f_enum OR f_pat
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
                   CAST(sum(CAST(f_min AS INT) + CAST(f_max AS INT)
                            + CAST(f_enum AS INT) + CAST(f_pat AS INT))
                        AS BIGINT) AS n_violations
            FROM checks
        """,
        "summary_documents": """
            WITH v AS (
              SELECT '/properties/n_chars/minimum' AS keyword_location
              FROM documents WHERE n_chars < 100
              UNION ALL
              SELECT '/properties/n_chars/maximum' FROM documents WHERE n_chars > 400
              UNION ALL
              SELECT '/properties/lang/enum' FROM documents
              WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr'))
            SELECT keyword_location, CAST(count(*) AS BIGINT) AS n_violations
            FROM v GROUP BY keyword_location
        """,
        "logic_combo": """
            WITH c AS (
              SELECT
                (l_discount IS NULL OR l_discount <= 0.02 OR l_discount >= 0.08) AS ok_any,
                (l_tax IS NULL OR NOT (l_tax > 0.07)) AS ok_not,
                (l_quantity IS NULL OR
                 (CAST((l_quantity / 2 = floor(l_quantity / 2)) AS INT)
                  + CAST((l_quantity / 3 = floor(l_quantity / 3)) AS INT)) = 1) AS ok_one
              FROM lineitem)
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN NOT (ok_any AND ok_not AND ok_one)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
                   CAST(sum(CAST(NOT ok_any AS INT) + CAST(NOT ok_not AS INT)
                            + CAST(NOT ok_one AS INT)) AS BIGINT) AS n_violations
            FROM c
        """,
        "const_exclusive": """
            SELECT '/' || CAST(r_regionkey AS VARCHAR) || '/r_name' AS instance_location,
                   '/properties/r_name/const' AS keyword_location
            FROM region WHERE r_name IS NOT NULL AND r_name <> 'AFRICA'
            UNION ALL
            SELECT '/' || CAST(r_regionkey AS VARCHAR) || '/r_regionkey',
                   '/properties/r_regionkey/exclusiveMinimum'
            FROM region WHERE r_regionkey <= 0
            UNION ALL
            SELECT '/' || CAST(r_regionkey AS VARCHAR) || '/r_regionkey',
                   '/properties/r_regionkey/exclusiveMaximum'
            FROM region WHERE r_regionkey >= 4
        """,
        "format_date": """
            -- NULL arm spelled out (CLAUDE.md oracle rule): a NULL
            -- o_orderdate yields d_str NULL, which format PASSES
            -- (absence convention) — no violation row.  TPC-H dates are
            -- non-null, so this is belt-and-braces, not a behavior change
            SELECT '/' || CAST(o_orderkey AS VARCHAR) || '/d_str' AS instance_location,
                   '/properties/d_str/format' AS keyword_location
            FROM orders
            WHERE o_orderkey % 10 = 0 AND o_orderdate IS NOT NULL
        """,
        "format_annotation_mode": """
            -- annotation-only format never fails; minLength 10 holds for
            -- both yyyy-MM-dd and the corrupted 11-char variant
            SELECT TRUE AS valid,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(0 AS BIGINT) AS n_invalid,
                   CAST(0 AS BIGINT) AS n_violations
            FROM orders
        """,
        "unevaluated_dynamic": """
            WITH d AS (
              SELECT '/' || COALESCE(CAST(doc_id AS VARCHAR), '?') AS iloc,
                     lang, source, n_chars,
                     COALESCE(lang = 'en', FALSE) AS cond
              FROM documents)
            SELECT iloc || '/n_chars' AS instance_location,
                   '/then/properties/n_chars/maximum' AS keyword_location
            FROM d WHERE cond AND n_chars > 400
            UNION ALL
            SELECT iloc || '/source', '/else/properties/source/pattern'
            FROM d WHERE NOT cond AND source IS NOT NULL
                     AND NOT regexp_matches(source, '^src[0-9]$')
            UNION ALL
            SELECT iloc, '/unevaluatedProperties'
            FROM d WHERE lang IS NOT NULL AND NOT cond
            UNION ALL
            SELECT iloc, '/unevaluatedProperties'
            FROM d WHERE n_chars IS NOT NULL
                     AND NOT (cond AND COALESCE(n_chars <= 400, FALSE))
            UNION ALL
            SELECT iloc, '/unevaluatedProperties'
            FROM d WHERE source IS NOT NULL
                     AND NOT (NOT cond AND
                              COALESCE(regexp_matches(source, '^src[0-9]$'),
                                       FALSE))
        """,
        "recursive_tree": """
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/tree/v'
                     AS instance_location,
                   '/properties/tree/$ref/properties/v/maximum'
                     AS keyword_location
            FROM documents WHERE n_chars > 200
            UNION ALL
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/tree/child/v',
                   '/properties/tree/$ref/properties/child/$ref' ||
                   '/properties/v/maximum'
            FROM documents WHERE n_chars - 150 > 200
            UNION ALL
            SELECT '/' || CAST(doc_id AS VARCHAR) || '/tree/child/child/v',
                   '/properties/tree/$ref/properties/child/$ref' ||
                   '/properties/child/$ref/properties/v/maximum'
            FROM documents WHERE n_chars - 300 > 200
        """,
        # Modeled domain (r5 review): this oracle covers exactly the
        # shapes the driver's events generator emits — props is NULL,
        # invalid JSON, or an object whose k is an INTEGER or absent.
        # It does NOT model non-integer / string / JSON-null k (the
        # engine's contentSchema would raise type/required violations
        # where the DOUBLE-range CASE passes); if the fixture generator
        # ever emits those shapes, extend the CASE with json_type()
        # arms to mirror the engine's from_json coercion semantics.
        "content_json_events": """
            WITH checks AS (
              SELECT CASE
                  WHEN json_valid(props) = false THEN 'mediatype'
                  WHEN json_extract(props, '$.k') IS NULL THEN 'schema'
                  WHEN CAST(json_extract(props, '$.k') AS DOUBLE) < 0
                    OR CAST(json_extract(props, '$.k') AS DOUBLE) > 50 THEN 'schema'
                  ELSE NULL END AS fail
              FROM events WHERE props IS NOT NULL)
            SELECT CASE fail
                     WHEN 'mediatype' THEN '/properties/props/contentMediaType'
                     ELSE '/properties/props/contentSchema' END AS keyword_location,
                   CAST(count(*) AS BIGINT) AS n_violations
            FROM checks WHERE fail IS NOT NULL
            GROUP BY 1
        """,
        "unique_custkey": """
            SELECT '/' || CAST(o_custkey AS VARCHAR) AS instance_location,
                   '/x-unique/o_custkey' AS keyword_location,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM orders GROUP BY o_custkey HAVING count(*) > 1
        """,
        "referential_custkey": """
            SELECT '/' || CAST(o_orderkey AS VARCHAR) || '/o_custkey' AS instance_location,
                   '/x-references/o_custkey' AS keyword_location
            FROM orders o
            WHERE NOT EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey % 7 <> 0 AND c.c_custkey = o.o_custkey)
        """,
        "stats_by_source": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(n_chars) AS n_chars_min,
                   max(n_chars) AS n_chars_max,
                   round(avg(CASE WHEN n_chars IS NULL
                                  THEN 1.0 ELSE 0.0 END), 6)
                     AS n_chars_null_rate,
                   CAST(count(DISTINCT n_chars) AS BIGINT) AS n_chars_distinct
            FROM documents GROUP BY source
        """,
        "invariant_nchars": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN n_chars <> length(text)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
            FROM documents
        """,
        "drift_nchars": """
            WITH ha AS (
              SELECT CASE WHEN n_chars < 0 THEN 0
                          WHEN n_chars >= 600 THEN 25
                          ELSE CAST(floor(n_chars / 600.0 * 24) AS BIGINT) + 1
                     END AS bucket,
                     count(*) AS a
              FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
              GROUP BY 1),
            hb AS (
              SELECT CASE WHEN n_chars < 0 THEN 0
                          WHEN n_chars >= 600 THEN 25
                          ELSE CAST(floor(n_chars / 600.0 * 24) AS BIGINT) + 1
                     END AS bucket,
                     count(*) AS b
              FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
              GROUP BY 1),
            merged AS (
              SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
                     COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
              FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
            tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM merged),
            withp AS (
              SELECT bucket, a / na AS pa, b / nb AS pb,
                     sum(a / na) OVER (ORDER BY bucket) AS cdfa,
                     sum(b / nb) OVER (ORDER BY bucket) AS cdfb,
                     na, nb
              FROM merged CROSS JOIN tot)
            SELECT round(max(abs(cdfa - cdfb)), 6) AS ks_stat,
                   round(sum((pa - pb) * ln((pa + 1e-6) / (pb + 1e-6))), 6) AS psi,
                   CAST(any_value(na) AS BIGINT) AS n_a,
                   CAST(any_value(nb) AS BIGINT) AS n_b
            FROM withp
        """,
        "validate_table_docs": """
            WITH cats AS (
              SELECT '/properties/n_chars/maximum' AS keyword_location,
                     CAST(count(*) AS BIGINT) AS n_violations
              FROM documents WHERE n_chars > 400
              UNION ALL
              SELECT '/properties/lang/enum', CAST(count(*) AS BIGINT)
              FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr')
              UNION ALL
              SELECT '/x-unique/source,lang', CAST(count(*) AS BIGINT)
              FROM (SELECT source, lang FROM documents
                    GROUP BY source, lang HAVING count(*) > 1)
              UNION ALL
              SELECT '/x-invariants/n_chars_len', CAST(count(*) AS BIGINT)
              FROM documents WHERE NOT coalesce(n_chars = length(text), FALSE))
            SELECT * FROM cats WHERE n_violations > 0
        """,
        "equality_docs": """
            WITH ref AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 17 = 0 THEN n_chars + 1
                          ELSE n_chars END AS n_chars,
                     lang
              FROM documents WHERE doc_id % 97 <> 0)
            SELECT '/' || CAST(d.doc_id AS VARCHAR) AS instance_location,
                   '/x-equality/_missing' AS keyword_location
            FROM documents d LEFT JOIN ref r ON d.doc_id = r.doc_id
            WHERE r.doc_id IS NULL
            UNION ALL
            SELECT '/' || CAST(d.doc_id AS VARCHAR) || '/n_chars',
                   '/x-equality/n_chars'
            FROM documents d JOIN ref r ON d.doc_id = r.doc_id
            WHERE d.n_chars IS DISTINCT FROM r.n_chars
            UNION ALL
            SELECT '/' || CAST(d.doc_id AS VARCHAR) || '/lang',
                   '/x-equality/lang'
            FROM documents d JOIN ref r ON d.doc_id = r.doc_id
            WHERE d.lang IS DISTINCT FROM r.lang
        """,
        "skew_stats": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
                   CAST(min(n_chars) AS BIGINT) AS n_chars_min,
                   CAST(max(n_chars) AS BIGINT) AS n_chars_max,
                   CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_chars_nulls
            FROM documents GROUP BY source
        """,
        "dedup_exact": """
            SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY source, lang HAVING count(*) > 1
        """,
        "fingerprint": """
            SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
        """,
        "token_count": """
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                     AS n_tokens
            FROM documents
        """,
        "quality_counts": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT) AS n_punct,
                   CAST(len(regexp_extract_all(text, '\\b(the|and|of|to|a)\\b'))
                        AS BIGINT) AS n_stopwords,
                   CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
            FROM documents
        """,
        "lang_id_counts": """
            WITH scores AS (
              SELECT len(regexp_extract_all(text, '\\b(the|and|of|to|is|in|that|it|was|for)\\b')) AS c_en,
                     len(regexp_extract_all(text, '\\b(der|die|das|und|ist|nicht|ich|ein|zu|den)\\b')) AS c_de,
                     len(regexp_extract_all(text, '\\b(le|la|les|et|est|que|une|des|dans|pour)\\b')) AS c_fr,
                     len(regexp_extract_all(text, '\\b(el|los|las|es|una|que|por|con|para|del)\\b')) AS c_es,
                     len(regexp_extract_all(text, '[一-鿿]')) AS c_zh
              FROM documents),
            pred AS (
              SELECT CASE
                WHEN greatest(c_en,c_de,c_fr,c_es,c_zh) = 0 THEN 'und'
                WHEN c_en = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'en'
                WHEN c_de = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'de'
                WHEN c_fr = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'fr'
                WHEN c_es = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'es'
                ELSE 'zh' END AS lang_pred
              FROM scores)
            SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs
            FROM pred GROUP BY lang_pred
        """,
        "token_count_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                        + len(regexp_extract_all(text, '[^\\sA-Za-z0-9_]'))
                        + greatest(CAST(floor(length(regexp_replace(text, '[^A-Za-z0-9_]', '', 'g')) / 4) AS BIGINT)
                                   - len(regexp_extract_all(text, '[A-Za-z0-9_]+')), 0)
                        AS BIGINT) AS n_tokens_bpe
            FROM documents
        """,
        "minhash_head": """
            WITH norm AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS words
              FROM documents),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(words) - 3, 0) + 2),
                       i -> array_to_string(list_slice(words, i, i + 2), ' ')
                     )) AS shingles
              FROM norm)
            SELECT doc_id,
                   list_min(list_transform(shingles,
                     s -> CAST(concat('0x', substr(md5(concat(s, '#0')), 1, 15)) AS BIGINT)
                   )) AS sig0
            FROM sh
        """,
        **_cluster_oracles(),
        "ngram_jaccard": """
            WITH sh AS (
              SELECT doc_id, source || '|' || lang AS blk,
                     list_distinct(list_transform(
                       range(1, greatest(len(string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) - 3, 0) + 2),
                       i -> array_to_string(list_slice(
                              string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                              i, i + 2), ' '))) AS shingles
              FROM documents),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.shingles, b.shingles)) AS inter,
                     len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles)) AS uni
              FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id)
            SELECT id_a, id_b FROM pairs
            WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.5
        """,
        "simhash_docs": """
            WITH norm AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS words
              FROM documents),
            sh AS (
              SELECT doc_id, list_transform(range(1, greatest(len(words) - 3, 0) + 2),
                                            i -> array_to_string(list_slice(words, i, i + 2), ' ')) AS shingles
              FROM norm),
            hs AS (
              SELECT doc_id, len(shingles) AS n,
                     list_transform(shingles,
                       s -> CAST(CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296
                            + CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)) AS hlist
              FROM sh),
            halves AS (
              SELECT doc_id,
                CAST(list_sum(list_transform(range(32, 64),
                   p -> CASE WHEN 2 * len(list_filter(hlist,
                            h -> (h >> CAST(p AS HUGEINT)) & CAST(1 AS HUGEINT) = CAST(1 AS HUGEINT))) >= n
                        THEN CAST(1 AS BIGINT) << (p - 32) ELSE 0 END)) AS BIGINT) AS hi,
                CAST(list_sum(list_transform(range(0, 32),
                   p -> CASE WHEN 2 * len(list_filter(hlist,
                            h -> (h >> CAST(p AS HUGEINT)) & CAST(1 AS HUGEINT) = CAST(1 AS HUGEINT))) >= n
                        THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS lo
              FROM hs),
            tot AS (SELECT doc_id, CAST(hi AS HUGEINT) * 4294967296 + lo AS u FROM halves)
            SELECT doc_id, CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
                                     THEN u - CAST('18446744073709551616' AS HUGEINT)
                                     ELSE u END AS BIGINT) AS fp
            FROM tot
        """,
        "embedding_near_dups": embedding_near_dups_oracle_sql(
            dim=64, threshold_num=2, threshold_den=5, bits=4, seed=42),
        "lsh_topk": _lsh_topk_oracle(),
        "lsh_q_stats": _lsh_q_stats_oracle(),
        **_bm25_oracles(),
        # ivf_topk runs full-probe (n_probe == n_centroids, no cell cap):
        # the cell partition is exhaustive, so the result equals the exact
        # cosine top-k — the completeness property pinned in
        # test_similarity_ids makes the iterative operator oracle-pairable.
        # Deliberately the same SQL shape as embedding_topk's oracle (k=5
        # vs 3): both rank by DuckDB's float cosine with id tiebreak and
        # neither filters malformed vectors — sound on this fixture
        # (all vectors len-64, non-NULL, distinct cosines at the k-cut;
        # embedding_topk has been green on it since r2).  If the fixture
        # ever gains ragged/NULL vectors or ~1-ulp cosine ties, BOTH
        # oracles need the engine's clean-row predicate and an integer
        # rank key (see lsh_topk) — change them together.
        "ivf_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS cos
              FROM q CROSS JOIN embeddings e
              WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "contamination": """
            WITH base AS (
              SELECT doc_id, source,
                     list_distinct(list_transform(
                       range(1, greatest(len(words) - 3, 0) + 2),
                       i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS shingles
              FROM (SELECT doc_id, source,
                           string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS words
                    FROM documents)),
            sh AS (SELECT * FROM base WHERE len(shingles) > 0),
            bc AS (SELECT * FROM sh WHERE source NOT IN ('src0', 'src1')),
            bb AS (SELECT * FROM sh WHERE source IN ('src0', 'src1')),
            tc AS (SELECT doc_id AS corpus_id,
                          CAST(concat('0x', substr(md5(concat(t.s, '#0')), 1, 15)) AS BIGINT) AS h
                   FROM bc, unnest(shingles) AS t(s)),
            tb AS (SELECT doc_id AS benchmark_id,
                          CAST(concat('0x', substr(md5(concat(t.s, '#0')), 1, 15)) AS BIGINT) AS h
                   FROM bb, unnest(shingles) AS t(s)),
            hot AS (SELECT h FROM tc GROUP BY h HAVING count(*) > 10000),
            cand AS (
              SELECT tc.corpus_id, tb.benchmark_id
              FROM tc
              ANTI JOIN hot ON tc.h = hot.h
              JOIN tb ON tb.h = tc.h
              GROUP BY tc.corpus_id, tb.benchmark_id
              HAVING count(*) >= 1),
            verified AS (
              SELECT c.corpus_id, c.benchmark_id,
                     CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
                       / len(y.shingles) AS overlap
              FROM cand c
              JOIN bc x ON x.doc_id = c.corpus_id
              JOIN bb y ON y.doc_id = c.benchmark_id)
            SELECT corpus_id, benchmark_id FROM verified
            WHERE overlap >= 0.5
        """,
        "multimodal_decode": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN COALESCE(octet_length(encode(text)), 0) < 4
                        THEN 0
                        ELSE CAST(('0x' || substr(hex(encode(text)), 1, 2))
                                  AS BIGINT) + 1 END AS width,
                   CASE WHEN COALESCE(octet_length(encode(text)), 0) < 4
                        THEN 0
                        ELSE CAST(('0x' || substr(hex(encode(text)), 3, 2))
                                  AS BIGINT) + 1 END AS height,
                   CASE WHEN COALESCE(octet_length(encode(text)), 0) < 4
                        THEN 0 ELSE 3 END AS channels,
                   CAST(8 AS BIGINT) AS n_features
            FROM documents
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS cos
              FROM q CROSS JOIN embeddings e
              WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        **_repetition_oracles(),
        **_sampling_oracles(),
        **_pii_oracle(),
        **_cleaning_oracles(),
        **_packing_oracles(),
        **_tokens_oracles(),
        "bloom_member": _bloom_member_oracle(),
        **_sketch_oracles(),
    }
