"""Validation engine — the analogue of boon's ``Schemas::validate``
(reference ``src/lib.rs:186-195``) lifted from one-value-per-call to
whole-table, single-projection evaluation.

``Engine(schema).annotate(df)`` adds three columns in ONE ``select`` (no
shuffle, whole-stage codegen):

* ``valid``            — boolean verdict per row (boon's Ok/Err)
* ``violations``       — array<struct> of basic-output units
                         (``src/output.rs:416-445``), capped
* ``violation_count``  — total violations *before* the cap, so truncation
                         is never silent (SURVEY.md §7 risk note)

Compile once, build once: boon compiles a schema once and validates many
instances.  The schema is compiled once per :class:`Engine`, and the
Spark expression tree the :class:`PlanBuilder` lowers it to is built once
per (schema identity, input schema, extension registries, SparkContext)
and kept in a small process-local memo, so a second ``annotate`` of a
frame with the same schema — the next call of a report, the next
micro-batch of a stream — reuses the built ``Column`` objects (unresolved
and immutable, so safe to share between frames).  The rule for the memo
key: anything the builder reads must be in the key.

Output formats mirror boon's flag/basic output (``src/output.rs:33-86``).
Cross-row checks (uniqueness, referential, stats, drift — SURVEY.md §2.6)
live in ``boon_spark.operators`` and are orchestrated by
:func:`validate_table`.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import functions as registries
from .plans.builder import PlanBuilder, concat_violations, row_pointer
from .schema import CompiledSchema, compile_schema


class _Plan(NamedTuple):
    """What one :meth:`PlanBuilder.build` produces for a schema over an
    input schema: the prelude projection, the verdict, the keywords'
    violation arrays and the empty violation array."""
    prelude: dict
    valid: Column
    viol_arrays: list
    empty: Column


# built plans, oldest first; the oldest is evicted past the cap.  Each
# entry holds a handful of py4j Column handles, so the cap bounds the
# driver and JVM memory the memo can pin.
_PLAN_CAP = 32
_plans: dict[tuple, _Plan] = {}
_plans_lock = threading.Lock()


@dataclass
class Engine:
    """Compile once on the driver, validate any number of DataFrames —
    mirroring boon's compile-then-validate split
    (``src/compiler.rs:198-212`` / ``src/lib.rs:186-195``).  The plan is
    built once per (schema identity, input schema, extension registries,
    SparkContext), shared by every engine over the same schema: see
    :meth:`annotate`."""

    compiled: CompiledSchema
    row_id: Optional[str] = None
    max_violations_per_row: int = 100
    # emit contentSchema sub-violations alongside the wrapper row (boon's
    # causes, validator.rs:507-513) — opt-in, keeps the default violation
    # stage lean; detailed_tree() re-nests them into the causes hierarchy
    content_causes: bool = False

    @classmethod
    def from_schema(cls, schema_doc, *, row_id: Optional[str] = None,
                    max_violations_per_row: int = 100,
                    resources: Optional[dict] = None,
                    loader=None, assert_format: bool = False,
                    assert_content: bool = False,
                    content_causes: bool = False,
                    fragment: str = "",
                    default_draft=None) -> "Engine":
        """``resources``/``loader`` feed cross-document $ref resolution
        (boon add_resource / SchemeUrlLoader parity);
        ``assert_format``/``assert_content`` are
        ``enable_format_assertions``/``enable_content_assertions``
        (src/compiler.rs:105-130) — see :func:`compile_schema`.
        ``fragment`` selects a subschema (anchor or JSON pointer) as the
        validation root, like boon ``compile("schema.json#a1")``."""
        return cls(compile_schema(schema_doc, resources=resources,
                                  loader=loader,
                                  assert_format=assert_format,
                                  assert_content=assert_content,
                                  fragment=fragment,
                                  default_draft=default_draft),
                   row_id=row_id,
                   max_violations_per_row=max_violations_per_row,
                   content_causes=content_causes)

    # ------------------------------------------------------------------
    def annotate(self, df: DataFrame) -> DataFrame:
        """Three staged projections, each referencing the previous:

        1. ``valid`` — the hot path.  With range-only element schemas it
           contains no higher-order functions, so it stays inside
           whole-stage codegen.
        2. ``_viols`` — violation detail, guarded by ``~valid`` (a cheap
           column reference, so the expensive struct building runs only
           for failing rows): the concatenation of the keywords'
           NULL-free violation arrays, no filter lambda, so it stays in
           generated code except for per-element ``items`` detail.
        3. ``violations``/``violation_count`` — slice + size of ``_viols``.

        The stages reference prior aliases more than once, so Catalyst's
        CollapseProject keeps them separate and nothing expensive is
        evaluated twice (the single-select formulation duplicated the
        whole validity expression three times, uncollapsible because
        lambda variables defeat subexpression elimination).

        The expressions come from :meth:`_plan`: built once per (schema
        identity, input schema, extension registries, SparkContext), so
        only the three selects cost py4j round trips on a repeat call.
        """
        reserved = {"valid", "violations", "violation_count", "_viols"}
        clash = reserved & set(df.columns)
        if clash:
            raise ValueError(
                f"input columns {sorted(clash)} collide with the "
                f"engine's output columns; rename them before validating")
        plan = self._plan(df)
        cap = self.max_violations_per_row
        base = df
        if plan.prelude:
            # stage 0: expensive shared subexpressions (JSON parses)
            # computed exactly once, codegen'd + CSE'd
            base = df.select("*", *[c.alias(a)
                                    for a, c in plan.prelude.items()])
        step1 = base.select("*", F.coalesce(plan.valid,
                                            F.lit(False)).alias("valid"))
        viols = _detail(plan, ~F.col("valid"))
        step2 = step1.select("*", viols.alias("_viols"))
        return step2.select(
            *df.columns, "valid",
            F.slice("_viols", 1, cap).alias("violations"),
            F.size("_viols").alias("violation_count"))

    def _plan(self, df: DataFrame) -> _Plan:
        """The built plan for ``df``'s schema, from the memo or built now.

        The key holds everything the builder reads — anything it reads
        must be in the key: the compiled schema's identity (spec, compile
        options, fragment, every resource document), ``row_id``,
        ``content_causes``, ``base_uri``, the input schema (types and
        nullability), the extension registries' generation and the
        SparkContext, whose application id changes on a restart, so
        stale Java handles and UDFs are never reused.  Nothing is keyed
        on ``id()``.  A build that raises is not kept."""
        from .sources.manifest import spec_hash
        key = (spec_hash(self.compiled), self.row_id, self.content_causes,
               self.compiled.base_uri, df.schema.json(),
               registries.generation,
               df.sparkSession.sparkContext.applicationId)
        with _plans_lock:
            plan = _plans.get(key)
        if plan is not None:
            return plan
        pb = PlanBuilder(df.schema, row_id=self.row_id,
                         content_causes=self.content_causes,
                         base_uri=self.compiled.base_uri)
        valid, viol_arrays = pb.build(
            self.compiled.root, None, None, row_pointer(self.row_id))
        plan = _Plan(pb.prelude, valid, viol_arrays, pb.empty)
        with _plans_lock:
            # evict before inserting, so even a reader that skips the
            # lock never sees more than the cap
            if key not in _plans:
                while len(_plans) >= _PLAN_CAP:
                    del _plans[next(iter(_plans))]
            _plans[key] = plan
        return plan

    def validate(self, df: DataFrame) -> "ValidationResult":
        return ValidationResult(self.annotate(df), row_id=self.row_id)


def _engine(spec, row_id: Optional[str]) -> Engine:
    """The engine over ``spec``: a :class:`CompiledSchema` as given, a
    spec dict compiled once with its inline options."""
    if isinstance(spec, CompiledSchema):
        return Engine(spec, row_id=row_id)
    return Engine.from_schema(spec, row_id=row_id)


def _detail(plan: _Plan, failed: Column) -> Column:
    """Lazy error materialization (boon bool_result,
    src/validator.rs:849-855): only failing rows concatenate their
    keywords' violation arrays."""
    if not plan.viol_arrays:
        return plan.empty
    return F.when(failed, concat_violations(plan.viol_arrays)) \
        .otherwise(plan.empty)


def violation_rows(frame: DataFrame, *keep: str) -> DataFrame:
    """One row per element of ``frame``'s ``violations`` array: the
    ``keep`` columns followed by the violation struct's fields.  The one
    place a violation array is exploded to rows.

    Passing rows carry an EMPTY array, so the explode alone prunes them.
    ``explode_outer`` + a post-generate null filter is deliberate: plain
    ``explode`` makes Catalyst infer ``size(violations) > 0``
    (InferFiltersFromGenerate), and predicate pushdown re-inlines the
    whole violation expression — prelude JSON parses included, once per
    alias reference — into a scan-side condition, blowing generated-code
    size and its janino compile time ~4x (pinned by
    test_plans.test_content_schema_plan_is_lean)."""
    return (frame.select(*keep, F.explode_outer("violations").alias("v"))
            .filter(F.col("v").isNotNull())
            .select(*keep, "v.*"))


def verdict_aggregates() -> list[Column]:
    """The verdict of a group of annotated rows, as aggregate columns:
    ``valid`` (an empty group is vacuously valid), then the counts
    ``n_rows``, ``n_invalid`` and ``n_violations`` (before the cap).
    The one definition behind :meth:`ValidationResult.flag`, the
    manifest's per-partition metrics and the streaming violation rate."""
    return [
        # coalesce: min/sum over an empty group are NULL
        F.coalesce(F.min(F.col("valid").cast("int")).cast("boolean"),
                   F.lit(True)).alias("valid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum((~F.col("valid")).cast("long")),
                   F.lit(0)).alias("n_invalid"),
        F.coalesce(F.sum("violation_count"), F.lit(0)).alias("n_violations"),
    ]


@dataclass
class ValidationResult:
    """Lazy handle over the annotated DataFrame; all methods return
    DataFrames (no driver-side collection)."""

    annotated: DataFrame
    row_id: Optional[str] = None

    def violations(self) -> DataFrame:
        """Basic-output units as rows (boon ``basic_output``,
        ``src/output.rs:38-86``), exploded by :func:`violation_rows`."""
        return violation_rows(self.annotated).select(
            F.lit(False).alias("valid"), "*")

    def flag(self, by: Optional[list[str]] = None) -> DataFrame:
        """Flag output ``{"valid": bool}`` (boon ``src/output.rs:33-35``),
        optionally per group (e.g. per partition column)."""
        agg = verdict_aggregates()
        if by:
            return self.annotated.groupBy(*by).agg(*agg)
        return self.annotated.agg(*agg)

    def detailed(self) -> DataFrame:
        """Detailed output (boon ``src/output.rs:89-137``): one row per
        failing instance with its full violation list nested — the tree
        shape, flattened one level (our schemas are one level deep)."""
        return (self.annotated
                .filter(~F.col("valid"))
                .select(row_pointer(self.row_id).alias("instance_location"),
                        F.col("valid"),
                        F.col("violations").alias("errors"),
                        F.col("violation_count")))

    def detailed_tree(self, limit: int = 20) -> list[dict]:
        """boon's hierarchical ``detailed_output`` (``src/output.rs:
        89-137``): one nested OutputUnit tree per failing row, causes
        grouped per subschema scope exactly like boon's error tree
        (Group wrapping / single-error collapse, src/validator.rs:30-58).
        Driver-side by design — output RENDERING is bounded by ``limit``;
        :meth:`detailed` remains the scalable flat DataFrame view."""
        from .outputs import nest_violations
        rows = self.detailed().limit(limit).collect()
        return [nest_violations([e.asDict() for e in r.errors],
                                row_pointer=r.instance_location)
                for r in rows]

    def summary(self) -> DataFrame:
        """Per-keyword failure counts — map-side partial agg, one shuffle
        over :func:`violation_rows`."""
        return (violation_rows(self.annotated)
                .groupBy("keyword_location")
                .agg(F.count(F.lit(1)).alias("n_violations")))


def validate_table(df: DataFrame, spec, *, row_id: Optional[str] = None,
                   dims: Optional[dict[str, DataFrame]] = None,
                   reference_df: Optional[DataFrame] = None) -> dict:
    """Full-suite orchestrator: row-local projection + cross-row operators
    (SURVEY.md §2.6).  Returns a dict of lazy DataFrames:

    ``annotated``, ``row_violations``, ``unique_violations``,
    ``referential_violations``, ``invariant_violations``.

    ``spec`` is a spec dict, compiled here with its inline options, or a
    :class:`CompiledSchema`, used as given.  A spec dict may carry
    table-level extensions::

        {"schema": {...json-schema...},
         "unique": ["doc_id"],
         "references": [{"column": "source", "dim": "sources",
                         "dim_column": "source"}],
         "invariants": [{"name": "n_tok_matches",
                         "expr": "n_tok = size(tokens)"}]}
    """
    from .operators.referential import check_referential
    from .operators.uniqueness import check_unique
    from .operators.invariants import check_invariants
    from .operators.equality import check_equality

    eng = _engine(spec, row_id)
    compiled = eng.compiled
    res = eng.validate(df)
    out: dict = {
        "annotated": res.annotated,
        "row_violations": res.violations(),
        "result": res,
    }
    uniq = None
    for cols in compiled.unique:
        v = check_unique(df, cols, row_id=row_id)
        uniq = v if uniq is None else uniq.unionByName(v)
    out["unique_violations"] = uniq

    refv = None
    for ref in compiled.references:
        dim = ref.get("dim")
        if isinstance(dim, str):
            if not dims or dim not in dims:
                raise ValueError(f"reference dim {dim!r} not provided")
            dim = dims[dim]
        v = check_referential(df, ref["column"], dim,
                              dim_column=ref.get("dim_column"), row_id=row_id)
        refv = v if refv is None else refv.unionByName(v)
    out["referential_violations"] = refv

    if compiled.invariants:
        out["invariant_violations"] = check_invariants(
            df, compiled.invariants, row_id=row_id)
    else:
        out["invariant_violations"] = None

    if reference_df is not None:
        out["equality_violations"] = check_equality(
            df, reference_df, key=row_id or "doc_id")
    return out
