"""Lower a compiled constraint schema to Spark Column expressions.

This is the analogue of boon's ``Validator`` recursion
(reference ``src/validator.rs:95-185``) turned inside-out: instead of a
row-oriented recursive tree-walk per instance, we emit **one columnar
projection** — every keyword becomes a boolean Column expression plus a
(lazily materialized) violation-struct expression; Catalyst fuses the whole
thing into a single whole-stage-codegen'd stage with zero shuffles.

Violation rows mirror boon's basic-output units
(``src/output.rs:416-445``): ``(instance_location, keyword_location,
error)`` with boon's exact message wording (``src/lib.rs:560-698``, see
``errors.MESSAGES``).  Like boon's lazy error materialization
(``bool_result``/``vloc``, ``src/validator.rs:849-855,918-925``),
violation detail is only computed for failing values: each keyword's
violation array is ``F.when(fail, array(struct)).otherwise(<empty>)``, so
every array is NULL-free and callers ``concat`` them as they are.  No
NULL-stripping ``filter`` lambda is needed: such a lambda is a
``CodegenFallback``, so the whole ``concat`` of violation structs under
it would be evaluated interpreted instead of in generated code.
Per-element detail (``items``) is guarded by the element's own validity,
so only failing elements build structs.
"""

from __future__ import annotations

import math
import re
from functools import reduce
from operator import and_, or_
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import MESSAGES, CompileError
from ..functions.formats import format_predicate
from ..schema import Node

VIOL_STRUCT = ("struct<instance_location:string,"
               "keyword_location:string,"
               "absolute_keyword_location:string,error:string>")
VIOL_ARRAY = f"array<{VIOL_STRUCT}>"


def row_pointer(row_id: Optional[str]) -> Column:
    """The instance pointer of a row, which every violation row's
    ``instance_location`` starts with: ``/<row_id>`` (``/?`` for a NULL
    id), or ``""`` — the JSON Pointer root — without a ``row_id``."""
    if not row_id:
        return F.lit("")
    return F.concat(F.lit("/"),
                    F.coalesce(F.col(row_id).cast("string"), F.lit("?")))


def concat_violations(arrays: list, empty: Optional[Column] = None
                      ) -> Optional[Column]:
    """One violation array from NULL-free ``arrays``: the array itself
    when there is one, their ``concat`` when there are more, ``empty``
    when there are none."""
    if not arrays:
        return empty
    return arrays[0] if len(arrays) == 1 else F.concat(*arrays)


_TRUE = None  # sentinel meaning "statically always valid" — lets us prune


def _type_depth(dt: Optional[T.DataType]) -> int:
    """Nesting height of a Spark type.  Strictly decreases on every
    instance descent (struct field, array element, map value), which is
    what makes type-directed unrolling of recursive ``$ref``s terminate
    (see :meth:`PlanBuilder.build`)."""
    if isinstance(dt, T.StructType):
        return 1 + max((_type_depth(f.dataType) for f in dt.fields),
                       default=0)
    if isinstance(dt, T.ArrayType):
        return 1 + _type_depth(dt.elementType)
    if isinstance(dt, T.MapType):
        return 1 + _type_depth(dt.valueType)
    return 0


def _peek(n):
    """Force a possibly-lazy sub-node to a CONCRETE node for STATIC
    inspection (fast-path probes, DDL derivation).  Loops because a
    forced recursive $ref can itself be a bare $ref in the cycle
    (a -> b -> a chains force to another lazy node); a pure ref chain
    that never reaches structure is a non-descending cycle."""
    if not isinstance(n, Node):
        return n
    seen = set()
    while n.lazy is not None:
        if n.lazy_key in seen:
            raise CompileError(
                f"{n.loc}: non-descending reference cycle through "
                f"{n.lazy_key[1]!r} (pure $ref chain with no structure)")
        seen.add(n.lazy_key)
        n = n.force()
    return n


def json_type_of(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dt, (T.StringType, T.CharType, T.VarcharType,
                       T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, T.NullType):
        return "null"
    return "other"


def _comparable(v, dt: Optional[T.DataType]) -> bool:
    """Can JSON literal ``v`` be compared to a column of type ``dt``
    without a cast that ANSI mode would abort on (and non-ANSI would
    NULL out, silently passing the check)?  Type-mismatched enum/const
    members are statically NOT-EQUAL instead of being compared."""
    if v is None or dt is None:
        return True
    jt = json_type_of(dt)
    if isinstance(v, bool):
        return jt == "boolean"
    if isinstance(v, (int, float)):
        return jt in ("integer", "number")
    if isinstance(v, str):
        # date/timestamp columns are string-typed JSON-wise, but an
        # arbitrary string literal would ANSI-crash the implicit cast —
        # callers compare via the cast-to-string form instead
        return isinstance(dt, (T.StringType, T.CharType, T.VarcharType))
    if isinstance(v, list):
        return isinstance(dt, T.ArrayType) and \
            all(_comparable(x, dt.elementType) for x in v)
    if isinstance(v, dict):
        return isinstance(dt, T.StructType) and \
            all(f in {f2.name for f2 in dt.fields} and
                _comparable(x, dt[f].dataType) for f, x in v.items())
    return False


def _lit_for(v, dt: Optional[T.DataType]) -> Column:
    """Build a literal comparable to a value of type ``dt``.  Numeric
    tolerance (boon's 1 == 1.0, ``src/util.rs:348-363``) falls out of
    Spark's numeric type coercion."""
    if isinstance(v, list):
        if not v:
            return F.array().cast(dt if isinstance(dt, T.ArrayType) else "array<string>")
        et = dt.elementType if isinstance(dt, T.ArrayType) else None
        return F.array(*[_lit_for(x, et) for x in v])
    if isinstance(v, dict):
        return F.struct(*[_lit_for(x, None).alias(k) for k, x in v.items()])
    return F.lit(v)


class PlanBuilder:
    """Builds (valid, violations) Column pairs for one compiled schema.

    ``value=None`` denotes the row itself (boon's root instance): property
    access is ``F.col(name)`` so Catalyst sees plain column references and
    can push filters/pruning to the scan; nested structs use ``getField``.
    """

    def __init__(self, df_schema: T.StructType, row_id: Optional[str] = None,
                 *, base_uri: str = "",
                 content_causes: bool = False):
        self.df_schema = df_schema
        self.row_id = row_id
        self.base_uri = base_uri
        # emit the contentSchema sub-validation's violation rows alongside
        # the "contentSchema failed" wrapper (boon keeps them as causes,
        # src/validator.rs:507-513).  Opt-in: the extra rows put several
        # more from_json references into the violation stage — fine for
        # debugging/detailed output, not for the 100 TB hot path
        self.content_causes = content_causes
        # (loc, abs_loc, abs_uri) of the node currently being lowered —
        # build() pushes/pops so _viol can rewrite keyword locations into
        # their dereferenced absoluteKeywordLocation form
        self._node_stack: list[tuple[str, str, str]] = [("", "", "")]
        # prelude: expensive shared subexpressions (JSON parses) hoisted
        # into their own projection so the (interpreted, lambda-bearing)
        # violation stage references a column instead of re-evaluating —
        # interpreted projections get no subexpression elimination
        self.prelude: dict[str, Column] = {}
        self._lambda_depth = 0
        # branch-validity memo for the unevaluated* annotation flows:
        # (id(branch_node), id(value)) → Column.  The per-FIELD loop in
        # _object_checks would otherwise rebuild every applicator
        # branch's full validity tree once per column (O(fields ×
        # branches) expression copies → generated-code blowup).  Values
        # pin (node, value) refs so ids stay unique for the build's life.
        self._bv_memo: dict[tuple[int, int], tuple] = {}
        # recursive-$ref unrolling state: cycle key → column-type depth
        # at which the key was last forced on the CURRENT build path.
        # Forcing again without the type strictly descending means the
        # recursion consumes no instance structure (alice↔bob allOf
        # loops, {"$ref": "#"}) and would unroll forever → CompileError,
        # the plan-time analogue of boon's runtime infinite-loop guard
        # (src/validator.rs:107-115,999-1011).
        self._force_depths: dict[tuple, int] = {}
        # the empty violation array, built once: every keyword that does
        # not fail contributes it, and each construction is a py4j call
        self.empty = F.array().cast(VIOL_ARRAY)

    def _hoist(self, name: str, expr: Column) -> Column:
        """Register an expression for the prelude projection and return a
        reference to it.  Only legal outside lambda bodies (a lambda var
        cannot cross a projection boundary)."""
        if self._lambda_depth > 0:
            return expr
        alias = f"_bs_{name}_{len(self.prelude)}"
        self.prelude[alias] = expr
        return F.col(alias)

    # ---------------------------------------------------------- helpers
    def _viol(self, fail: Column, kw_loc: str, iloc: Column,
              msg: Column) -> Column:
        """One scalar check → a one-struct array when ``fail``, else the
        empty array (never an array holding a NULL).
        ``absoluteKeywordLocation`` (boon ``src/output.rs:416-445``) is
        the dereferenced keyword pointer — the use-site prefix of the
        current node swapped for its definition-site pointer — prefixed
        with the schema resource URI (root ``$id``) when one exists."""
        cur_loc, cur_abs, cur_uri = self._node_stack[-1]
        abs_kw = cur_abs + kw_loc[len(cur_loc):] \
            if kw_loc.startswith(cur_loc) else kw_loc
        # cur_uri names the defining resource for cross-resource $ref
        # targets; empty → the root document's base URI applies.  (An
        # explicit flag, NOT a '#'-substring test — property names may
        # legally contain '#'.)
        full = f"{cur_uri or self.base_uri}#{abs_kw}"
        return F.when(fail, F.array(F.struct(
            iloc.alias("instance_location"),
            F.lit(kw_loc).alias("keyword_location"),
            F.lit(full).alias("absolute_keyword_location"),
            msg.alias("error")))).otherwise(self.empty)

    def _check(self, valids: list, viols: list, fail: Column, kw_loc: str,
               iloc: Column, msg: Column) -> None:
        """Emit one keyword check: the verdict is ``~fail`` and a failing
        row carries :meth:`_viol`'s violation.  ``fail`` must never be
        NULL."""
        valids.append(~fail)
        viols.append(self._viol(fail, kw_loc, iloc, msg))

    @staticmethod
    def _fail(value: Optional[Column], pred: Column) -> Column:
        """null values pass type-specific keywords (applicability rule,
        boon src/formats.rs:51-53 and the draft spec)."""
        if value is None:
            return F.coalesce(~pred, F.lit(False))
        return F.coalesce(value.isNotNull() & ~pred, F.lit(False))

    # ---------------------------------------------------------- main
    def build(self, node: Node, dtype: Optional[T.DataType],
              value: Optional[Column], iloc: Column
              ) -> tuple[Column, list[Column]]:
        """Returns (valid boolean Column, list of violation-array Columns).

        ``dtype`` is None only for the root row (treated as a JSON object).
        """
        restore: list[tuple[tuple, Optional[int]]] = []
        # the restore runs in a finally that ALSO covers the force loop:
        # a thunk that raises (nested non-descending cycle) must not
        # leak its depth entries into later build() calls
        try:
            d = _type_depth(self.df_schema if dtype is None else dtype)
            while node.lazy is not None:
                key = node.lazy_key
                prev = self._force_depths.get(key)
                if prev is not None and d >= prev:
                    raise CompileError(
                        f"{node.loc}: non-descending reference cycle "
                        f"through {key[1]!r} — the recursion re-applies "
                        f"the schema to the same instance and can never "
                        f"terminate (boon detects this at runtime, "
                        f"src/validator.rs:999-1011; this engine refuses "
                        f"at plan time)")
                restore.append((key, prev))
                self._force_depths[key] = d
                node = node.force()
            self._node_stack.append((node.loc, node.abs_loc or node.loc,
                                     node.abs_uri))
            try:
                return self._build(node, dtype, value, iloc)
            finally:
                self._node_stack.pop()
        finally:
            for key, prev in reversed(restore):
                if prev is None:
                    del self._force_depths[key]
                else:
                    self._force_depths[key] = prev

    def _build(self, node: Node, dtype: Optional[T.DataType],
               value: Optional[Column], iloc: Column
               ) -> tuple[Column, list[Column]]:
        if node.boolean is not None:
            if node.boolean:
                return F.lit(True), []
            # false schema fails every *present* value; an absent (NULL)
            # property is not applied to (absence convention, see engine doc)
            fail = F.lit(True) if value is None else value.isNotNull()
            return ~fail, [self._viol(
                fail, node.loc, iloc, F.lit(MESSAGES["false_schema"]))]

        valids: list[Column] = []
        viols: list[Column] = []

        def add(pred: Column, kw: str, msg: Column):
            self._check(valids, viols, self._fail(value, pred),
                        f"{node.loc}/{kw}", iloc, msg)

        jt = "object" if dtype is None else json_type_of(dtype)
        sval = None
        if value is not None and jt == "string":
            sval = value.cast("string")

        # ---- type (src/validator.rs:117-125) — the one keyword where NULL
        # can fail: SQL NULL models JSON null.
        if node.types is not None:
            want = set(node.types)
            if jt == "integer":
                nn_ok = F.lit(bool({"integer", "number"} & want))
            elif jt == "number":
                if "number" in want:
                    nn_ok = F.lit(True)
                elif "integer" in want:
                    # integer-ness is semantic, not structural
                    # (src/util.rs:300-307): zero-fraction numbers match
                    nn_ok = value == F.floor(value)
                else:
                    nn_ok = F.lit(False)
            else:
                nn_ok = F.lit(jt in want)
            if value is None:
                ok = F.lit("object" in want)
            else:
                ok = F.when(value.isNull(), F.lit("null" in want)).otherwise(nn_ok)
            got = jt if value is not None else "object"
            msg = F.lit(MESSAGES["type"].format(
                want=" or ".join(node.types), got=got))
            if value is not None:
                msg = F.when(value.isNull(), F.lit(MESSAGES["type"].format(
                    want=" or ".join(node.types), got="null"))).otherwise(msg)
            self._check(valids, viols, F.coalesce(~ok, F.lit(True)),
                        f"{node.loc}/type", iloc, msg)

        # ---- const / enum (src/validator.rs:127-139).  Comparison is
        # type-aware: a literal whose JSON type mismatches the column is
        # statically NOT-EQUAL — comparing it directly would ANSI-crash
        # the job on the implicit cast (or silently NULL→pass without
        # ANSI).  String-typed columns that are not plain strings
        # (date/timestamp) compare via their cast-to-string form.
        def eq_lit(e) -> Column:
            if _comparable(e, dtype):
                return value == _lit_for(e, dtype)
            if isinstance(e, str) and jt == "string" and sval is not None:
                return sval == F.lit(e)
            return F.lit(False)

        if node.has_const and value is not None:
            pred = value.eqNullSafe(F.lit(None)) if node.const is None \
                else eq_lit(node.const)
            add(pred, "const",
                F.lit(MESSAGES["const"].format(want=_fmt_val(node.const))))
        if node.enum is not None and value is not None:
            # NULL passes (absence convention — null rejection is the job
            # of required/type, see engine module doc)
            non_null = [e for e in node.enum if e is not None]
            if non_null:
                pred = reduce(or_, [eq_lit(e) for e in non_null])
            else:
                pred = F.lit(False)
            key = "enum_one" if len(node.enum) == 1 else "enum"
            add(pred, "enum", F.lit(MESSAGES[key].format(
                want=", ".join(_fmt_val(e) for e in node.enum))))

        # ---- format (src/validator.rs:141-146): strings only, others pass
        if node.format is not None and sval is not None:
            check = format_predicate(node.format)
            if self._lambda_depth > 0 and getattr(check, "python_udf", False):
                raise CompileError(
                    f"{node.loc}/format: format {node.format!r} runs as a "
                    f"Python UDF, which Spark cannot evaluate inside a "
                    f"higher-order function (array items, map keys or "
                    f"values); only a Column-builder format can run there")
            pred = check(sval)
            add(pred, "format", F.concat(
                F.lit('"'), sval, F.lit(f'" is not valid {node.format}')))

        # ---- numbers (src/validator.rs:520-563)
        if jt in ("integer", "number") and value is not None:
            gots = value.cast("string")
            if node.minimum is not None:
                add(value >= F.lit(node.minimum), "minimum", F.concat(
                    F.lit(f"must be >={_fmt_num(node.minimum)}, but got "), gots))
            if node.maximum is not None:
                add(value <= F.lit(node.maximum), "maximum", F.concat(
                    F.lit(f"must be <={_fmt_num(node.maximum)}, but got "), gots))
            if node.exclusive_minimum is not None:
                add(value > F.lit(node.exclusive_minimum), "exclusiveMinimum",
                    F.concat(F.lit(
                        f"must be > {_fmt_num(node.exclusive_minimum)} but got "), gots))
            if node.exclusive_maximum is not None:
                add(value < F.lit(node.exclusive_maximum), "exclusiveMaximum",
                    F.concat(F.lit(
                        f"must be < {_fmt_num(node.exclusive_maximum)} but got "), gots))
            if node.multiple_of is not None:
                m = node.multiple_of
                if jt == "integer" and float(m).is_integer():
                    pred = value % F.lit(int(m)) == 0
                else:
                    q = value.cast("double") / F.lit(float(m))
                    pred = q == F.floor(q)
                add(pred, "multipleOf", F.concat(
                    gots, F.lit(f" is not multipleOf {_fmt_num(m)}")))

        # ---- strings (src/validator.rs:454-474)
        if sval is not None:
            slen = F.length(sval)
            if node.min_length is not None:
                add(slen >= node.min_length, "minLength", F.concat(
                    F.lit(f"length must be >={node.min_length}, but got "),
                    slen.cast("string")))
            if node.max_length is not None:
                add(slen <= node.max_length, "maxLength", F.concat(
                    F.lit(f"length must be <={node.max_length}, but got "),
                    slen.cast("string")))
            if node.pattern is not None:
                # unanchored, like boon's is_match (src/validator.rs:470-474);
                # node.pattern is the ECMA→Java translation, the message
                # shows the schema author's original source
                src = node.pattern_src or node.pattern
                add(sval.rlike(node.pattern), "pattern", F.concat(
                    F.lit('"'), sval,
                    F.lit(f'" does not match pattern "{src}"')))

        # ---- content* (src/validator.rs:481-514)
        if sval is not None and (node.content_encoding or
                                 node.content_media_type or
                                 node.content_schema):
            self._content_checks(node, value, sval, iloc, valids, viols)

        # ---- arrays (src/validator.rs:337-447)
        if jt == "array" and value is not None:
            self._array_checks(node, dtype, value, iloc, valids, viols)

        # ---- objects (src/validator.rs:200-323)
        if jt == "object":
            self._object_checks(node, dtype, value, iloc, valids, viols)

        # ---- logic applicators (src/validator.rs:667-744)
        self._logic_checks(node, dtype, value, iloc, valids, viols)

        if not valids:
            return F.lit(True), viols
        return reduce(and_, valids), viols

    # ---------------------------------------------------------- arrays
    def _array_checks(self, node: Node, dtype: T.ArrayType, value: Column,
                      iloc: Column, valids: list, viols: list):
        et = dtype.elementType
        sz = F.size(value)

        def add(pred, kw, msg):
            self._check(valids, viols, self._fail(value, pred),
                        f"{node.loc}/{kw}", iloc, msg)

        if node.min_items is not None:
            add(sz >= node.min_items, "minItems", F.concat(
                F.lit(f"minimum {node.min_items} items required, but got "),
                sz.cast("string"), F.lit(" items")))
        if node.max_items is not None:
            add(sz <= node.max_items, "maxItems", F.concat(
                F.lit(f"maximum {node.max_items} items required, but got "),
                sz.cast("string"), F.lit(" items")))
        if node.unique_items:
            # validity via array_distinct — the built-in analogue of
            # boon's hash path (src/util.rs:390-427).  The *message*
            # reports the first duplicate pair (i, j) like boon's
            # UniqueItems { got: [i, j] } (src/lib.rs:503-505); the pair
            # search is HOF-heavy but sits inside the violation branch,
            # so it only ever runs for failing rows.
            def first_pos(x):
                return F.array_position(value, x)  # 1-based first index

            pair_candidates = F.filter(
                F.transform(value, lambda x, j: F.when(
                    F.coalesce(first_pos(x) - 1 < j, F.lit(False)),
                    F.struct((first_pos(x) - 1).alias("i"),
                             j.cast("long").alias("j")))),
                lambda s: s.isNotNull())
            first_pair = F.get(pair_candidates, 0)
            msg = F.when(first_pair.isNotNull(), F.concat(
                F.lit("items at "), first_pair.getField("i").cast("string"),
                F.lit(" and "), first_pair.getField("j").cast("string"),
                F.lit(" are equal"))).otherwise(F.lit("items are not unique"))
            add(F.size(F.array_distinct(value)) == sz, "uniqueItems", msg)

        npfx = len(node.prefix_items or [])
        for i, sub in enumerate(node.prefix_items or []):
            elem = F.get(value, i)
            e_iloc = F.concat(iloc, F.lit(f"/{i}"))
            e_valid, e_viols = self.build(sub, et, elem, e_iloc)
            ok = F.when(value.isNull() | (sz <= i), F.lit(True)).otherwise(e_valid)
            valids.append(F.coalesce(ok, F.lit(False)))
            for va in e_viols:
                viols.append(F.when(value.isNotNull() & (sz > i), va)
                             .otherwise(self.empty))

        items = _peek(node.items)
        if items is not None and not items.is_trivial_true():
            rest = value if npfx == 0 else F.slice(
                value, npfx + 1, F.greatest(sz - npfx, F.lit(0)))
            # fast path: range-only element subschemas compile to
            # array_min/array_max — ordinary expressions that keep the
            # whole validity projection inside whole-stage codegen
            # (higher-order-function lambdas fall out of codegen and are
            # interpreted per element, ~10x slower at scale)
            fast = _range_only_valid(items, dtype, rest)
            if fast is not None:
                valid_all = fast
            else:
                # general path — stays JVM-side via forall
                self._lambda_depth += 1
                valid_all = F.forall(rest, lambda x: F.coalesce(
                    self.build(node.items, et, x, iloc)[0], F.lit(False)))
                self._lambda_depth -= 1
            fail = self._fail(value, valid_all)
            valids.append(~fail)
            # per-element violation detail with the element index in the
            # instance pointer (boon item! macro, src/validator.rs:13-17),
            # guarded by the element's own validity like the row-level
            # ~valid guard: a passing element builds no structs
            def elem_viols(x, i):
                e_iloc = F.concat(iloc, F.lit("/"), (i + npfx).cast("string"))
                e_ok, evs = self.build(node.items, et, x, e_iloc)
                if not evs:
                    return self.empty
                return F.when(F.coalesce(e_ok, F.lit(False)), self.empty) \
                    .otherwise(concat_violations(evs))
            self._lambda_depth += 1
            per_elem = F.flatten(F.transform(rest, elem_viols))
            self._lambda_depth -= 1
            viols.append(F.when(fail, per_elem).otherwise(self.empty))

        if node.unevaluated_items is not None and node.items is None:
            # runtime annotation flow (2020-12; boon's Uneval merge,
            # src/validator.rs:930-968): evaluated items = own prefix +
            # per-branch prefix/items contributions (gated on the branch
            # validating) + elements matched by contains schemas.  `items`
            # present ⇒ everything evaluated (outer guard).
            sub = _peek(node.unevaluated_items)
            alls, pfxs, conts = self._evaluated_items_terms(
                node, dtype, value, iloc, own=True)
            static_all = any(c is True for c, _ in alls)
            cond_pfx = [(c, p) for c, p in pfxs if c is not True]
            dynamic = bool(alls or conts or cond_pfx)
            if static_all:
                pass  # everything evaluated — keyword can never fail
            elif not dynamic:
                # static index arithmetic — the codegen-friendly path
                # (npfx is this node's own prefixItems count)
                rest = value if npfx == 0 else F.slice(
                    value, npfx + 1, F.greatest(sz - npfx, F.lit(0)))
                if sub is False:
                    add(sz <= npfx, "unevaluatedItems", F.concat(
                        F.lit("last "), (sz - npfx).cast("string"),
                        F.lit(" unevaluatedItems not allowed")))
                elif isinstance(sub, Node) and not sub.is_trivial_true():
                    fast = _range_only_valid(sub, dtype, rest)
                    if fast is not None:
                        u_ok = fast
                    else:
                        self._lambda_depth += 1
                        u_ok = F.forall(rest, lambda x: F.coalesce(
                            self.build(sub, et, x, iloc)[0], F.lit(False)))
                        self._lambda_depth -= 1
                    add(u_ok, "unevaluatedItems",
                        F.lit("unevaluated items do not match schema"))
            else:
                static_pfx = max([p for c, p in pfxs if c is True],
                                 default=0)
                pfx_col = F.lit(static_pfx)
                if cond_pfx:
                    pfx_col = F.greatest(pfx_col, *[
                        F.when(c, F.lit(p)).otherwise(F.lit(0))
                        for c, p in cond_pfx])
                rest = F.slice(value, pfx_col + F.lit(1),
                               F.greatest(sz - pfx_col, F.lit(0)))
                all_ev = (reduce(or_, [c for c, _ in alls])
                          if alls else F.lit(False))

                def ev_elem(x):
                    preds = []
                    for c, cn in conts:
                        pv = F.coalesce(self.build(cn, et, x, iloc)[0],
                                        F.lit(False))
                        preds.append(pv if c is True else (c & pv))
                    return reduce(or_, preds) if preds else F.lit(False)

                if sub is False:
                    self._lambda_depth += 1
                    n_uneval = (F.size(F.filter(rest, lambda x: ~ev_elem(x)))
                                if conts else F.size(rest))
                    self._lambda_depth -= 1
                    ok = all_ev | (n_uneval <= 0)
                    add(ok, "unevaluatedItems", F.concat(
                        F.lit("last "), n_uneval.cast("string"),
                        F.lit(" unevaluatedItems not allowed")))
                elif isinstance(sub, Node) and not sub.is_trivial_true():
                    self._lambda_depth += 1
                    u_ok = F.forall(rest, lambda x: ev_elem(x) | F.coalesce(
                        self.build(sub, et, x, iloc)[0], F.lit(False)))
                    self._lambda_depth -= 1
                    ok = all_ev | F.coalesce(u_ok, F.lit(True))
                    add(ok, "unevaluatedItems",
                        F.lit("unevaluated items do not match schema"))

        if node.contains is not None:
            pred_valid = lambda x: F.coalesce(  # noqa: E731
                self.build(node.contains, et, x, iloc)[0], F.lit(False))
            self._lambda_depth += 1
            cnt = F.size(F.filter(value, pred_valid))
            # matching indices, only materialized inside failure messages
            # (boon reports them: "found N items at i, j",
            # src/validator.rs:412-447)
            match_idx = F.array_join(
                F.filter(F.transform(value, lambda x, i: F.when(
                    pred_valid(x), i.cast("string"))),
                    lambda s: s.isNotNull()), ", ")
            self._lambda_depth -= 1
            lo = 1 if node.min_contains is None else node.min_contains
            ok = cnt >= lo
            msg = F.lit(MESSAGES["contains"]) if node.min_contains is None else \
                F.when(cnt == 0, F.lit(
                    f"minimum {lo} items required to match contains "
                    f"schema, but found none")) \
                .otherwise(F.concat(
                    F.lit(f"minimum {lo} items required to match contains "
                          f"schema, but found "), cnt.cast("string"),
                    F.lit(" items at "), match_idx))
            add(ok, "contains" if node.min_contains is None else "minContains", msg)
            if node.max_contains is not None:
                add(cnt <= node.max_contains, "maxContains", F.concat(
                    F.lit(f"maximum {node.max_contains} items required to "
                          f"match contains schema, but found "),
                    cnt.cast("string"), F.lit(" items at "), match_idx))

    # ---------------------------------------------------------- content
    def _content_checks(self, node: Node, value: Column, sval: Column,
                        iloc: Column, valids: list, viols: list):
        """contentEncoding / contentMediaType / contentSchema
        (boon src/validator.rs:481-514, src/content.rs).  Checks chain:
        media type is only judged on decodable values, contentSchema only
        on parseable ones (mirroring boon's early-outs)."""
        from ..functions.content import ENCODINGS, MEDIA_TYPES

        # `*_inline` are full expressions (usable inside other hoisted
        # prelude expressions — prelude aliases cannot reference each
        # other within one projection); the post-prelude stages reference
        # ONLY hoisted boolean/string columns.  Hoisting the FINAL
        # booleans (not the parsed struct) matters: Catalyst's predicate
        # pushdown and single-reference projection collapse re-inline
        # aliases into consumers, so a hoisted *struct* would be expanded
        # into one from_json per downstream field reference — blowing the
        # generated-code size (and its janino compile time ~5x).  A
        # hoisted *boolean* inlines as one parse, CSE'd at runtime.
        target_inline = sval
        target = sval
        enc_ok_inline = F.lit(True)
        enc_ok = F.lit(True)
        if node.content_encoding is not None:
            enc = node.content_encoding.lower()
            if enc not in ENCODINGS:
                raise CompileError(
                    f"{node.loc}/contentEncoding: unknown encoding "
                    f"{enc!r}; register_content_encoding() it first")
            target_inline = ENCODINGS[enc](sval)
            target = self._hoist("decoded", target_inline)
            enc_ok_inline = target_inline.isNotNull()
            enc_ok = target.isNotNull()
            self._check(valids, viols, self._fail(value, enc_ok),
                        f"{node.loc}/contentEncoding", iloc,
                        F.lit(f"value is not '{enc}' encoded"))
        parse_ok_inline = F.lit(True)
        parse_ok = F.lit(True)
        if node.content_media_type is not None:
            mt = node.content_media_type.lower()
            if mt not in MEDIA_TYPES:
                raise CompileError(
                    f"{node.loc}/contentMediaType: unknown media type "
                    f"{mt!r}; register_content_media_type() it first")
            parse_ok_inline = MEDIA_TYPES[mt](target_inline)
            parse_ok = self._hoist("parse_ok", parse_ok_inline)
            ok = F.when(~enc_ok, F.lit(True)).otherwise(parse_ok)
            self._check(valids, viols, self._fail(value, ok),
                        f"{node.loc}/contentMediaType", iloc,
                        F.lit(f"value is not of mediatype '{mt}'"))
        # contentSchema only applies when contentMediaType is present
        # (gating mirrors boon src/compiler.rs:589-595 and the suite's
        # "contentSchema without contentMediaType" cases)
        if node.content_schema is not None and \
                node.content_media_type is not None:
            cs = _peek(node.content_schema)
            ddl = _ddl_from_schema(cs)
            parsed_inline = F.from_json(target_inline, ddl)
            sub_dtype = T._parse_datatype_string(ddl)
            sub_valid, sub_viols = self.build(
                cs, sub_dtype, parsed_inline, iloc)
            # applicability: an object-keyword contentSchema only judges
            # JSON *objects* — arrays/scalars pass (suite: '[]' is valid)
            is_object = F.ltrim(target_inline).startswith("{")
            ok_inline = F.when(
                ~enc_ok_inline | ~parse_ok_inline | ~is_object
                | parsed_inline.isNull(), F.lit(True)) \
                .otherwise(F.coalesce(sub_valid, F.lit(False)))
            ok = self._hoist("cs_ok", ok_inline)
            fail = self._fail(value, ok)
            self._check(valids, viols, fail, f"{node.loc}/contentSchema",
                        iloc, F.lit("contentSchema failed"))
            if self.content_causes and sub_viols:
                # the sub-validation's own violation rows, gated on the
                # wrapper condition (boon attaches them as causes of the
                # ContentSchema error; detailed_tree re-nests them)
                viols.append(F.when(fail, concat_violations(sub_viols))
                             .otherwise(self.empty))

    # ---------------------------------------------------------- unevaluated
    def _branch_valid(self, s: Node, dtype, value: Optional[Column],
                      iloc: Column) -> Column:
        """Memoized (and prelude-hoisted when legal) branch validity for
        the annotation flows — built once per (branch, value) pair no
        matter how many fields/keys consult it."""
        key = (id(s), id(value))
        hit = self._bv_memo.get(key)
        if hit is not None:
            return hit[0]
        col = F.coalesce(self.build(s, dtype, value, iloc)[0], F.lit(False))
        col = self._hoist("bv", col)
        self._bv_memo[key] = (col, s, value)
        return col

    @staticmethod
    def _may_evaluate_keys(s: Node, _seen: frozenset = frozenset()) -> bool:
        """Static probe: can ``s`` possibly evaluate any map key?  Skips
        dead branches in _evaluated_key (a branch with no object
        applicators would only append `valid & false` noise)."""
        while s.lazy is not None:
            if s.lazy_key in _seen:
                # cyclic in-place branch: conservatively "may" — building
                # it will raise the non-descending-cycle CompileError
                return True
            _seen = _seen | {s.lazy_key}
            s = s.force()
        if s.boolean is not None:
            return False
        if s.properties or s.pattern_properties \
                or s.additional_properties is not None \
                or s.unevaluated_properties is not None:
            return True
        subs = (s.all_of or []) + (s.any_of or []) + (s.one_of or []) + \
            [x for x in (s.if_, s.then, s.else_) if x is not None] + \
            list((s.dependent_schemas or {}).values())
        return any(PlanBuilder._may_evaluate_keys(x, _seen) for x in subs)

    @staticmethod
    def _force_inplace(node: Node, _seen: frozenset):
        """Force a lazy node consulted by the unevaluated* annotation
        walkers.  They follow IN-PLACE applicators only (same instance),
        so a revisited cycle key can never descend — reject it."""
        while node.lazy is not None:
            if node.lazy_key in _seen:
                raise CompileError(
                    f"{node.loc}: non-descending reference cycle through "
                    f"{node.lazy_key[1]!r} inside an in-place applicator "
                    f"consulted by unevaluated*")
            _seen = _seen | {node.lazy_key}
            node = node.force()
        return node, _seen

    def _evaluated_prop(self, node: Node, nm: str, fields: dict, dtype,
                        value: Optional[Column], iloc: Column, get,
                        *, own: bool = False, _seen: frozenset = frozenset()):
        """True | False | boolean Column — is property ``nm`` evaluated
        at ``node`` for ``unevaluatedProperties`` (2020-12 annotation
        flow; boon's runtime ``Uneval`` merge,
        ``src/validator.rs:930-968``).

        Keywords in the same schema object (properties /
        patternProperties / additionalProperties) contribute statically;
        an in-place applicator branch contributes its annotations iff the
        branch itself validates against the instance (annotations from
        failed subschemas are dropped, per spec).  ``not`` contributes
        nothing.  ``own=True`` marks the node whose unevaluated* keyword
        is being lowered — its own unevaluated* must not pre-evaluate
        names for itself, while a *branch* carrying unevaluated* covers
        everything.  Returned Columns are never NULL (branch validity is
        coalesced)."""
        node, _seen = self._force_inplace(node, _seen)
        if node.boolean is not None:
            return False
        if node.properties and nm in node.properties:
            return True
        for pat in (node.pattern_properties or {}):
            if re.compile(node.pattern_translations[pat][1]).search(nm):
                return True
        if node.additional_properties is not None:
            # additionalProperties applies to every name not matched by
            # properties/patternProperties — so every name is evaluated
            return True
        if not own and node.unevaluated_properties is not None:
            return True

        terms: list[Column] = []

        def add_branch(s: Node, gate: Optional[Column] = None):
            ev = self._evaluated_prop(s, nm, fields, dtype, value, iloc,
                                      get, _seen=_seen)
            if ev is False:
                return
            t = self._branch_valid(s, dtype, value, iloc)
            if ev is not True:
                t = t & ev
            if gate is not None:
                t = gate & t
            terms.append(t)

        for s in (node.all_of or []) + (node.any_of or []) + \
                 (node.one_of or []):
            add_branch(s)
        if node.if_ is not None:
            # `if` keeps its annotations whenever it matches, regardless
            # of then/else outcomes; then/else contribute under the
            # matching arm only
            add_branch(node.if_)
            cond = self._branch_valid(node.if_, dtype, value, iloc)
            if node.then is not None:
                add_branch(node.then, gate=cond)
            if node.else_ is not None:
                add_branch(node.else_, gate=~cond)
        for prop, s in (node.dependent_schemas or {}).items():
            if prop in fields:
                add_branch(s, gate=get(prop).isNotNull())
        if not terms:
            return False
        return reduce(or_, terms)

    def _evaluated_key(self, node: Node, k: Column, dtype, value: Column,
                       iloc: Column, *, own: bool = False,
                       _seen: frozenset = frozenset()) -> Column:
        """Boolean Column: is the runtime map key ``k`` evaluated at
        ``node`` for unevaluatedProperties over a MapType column — the
        key-as-Column analogue of :meth:`_evaluated_prop` (static names
        become ``isin``/``rlike`` tests on ``k``; branch terms are gated
        on the branch validating against the map value)."""
        node, _seen = self._force_inplace(node, _seen)
        if node.boolean is not None:
            return F.lit(False)
        terms: list[Column] = []
        if node.properties:
            terms.append(k.isin(list(node.properties)))
        for pat in (node.pattern_properties or {}):
            terms.append(k.rlike(node.pattern_translations[pat][0]))
        if node.additional_properties is not None:
            terms.append(F.lit(True))
        if not own and node.unevaluated_properties is not None:
            terms.append(F.lit(True))

        def add_branch(s: Node, gate: Optional[Column] = None):
            if not self._may_evaluate_keys(s):
                return  # dead branch: would only add `valid & false`
            ev = self._evaluated_key(s, k, dtype, value, iloc, _seen=_seen)
            t = self._branch_valid(s, dtype, value, iloc) & ev
            if gate is not None:
                t = gate & t
            terms.append(t)

        for s in (node.all_of or []) + (node.any_of or []) + \
                 (node.one_of or []):
            add_branch(s)
        if node.if_ is not None:
            add_branch(node.if_)
            cond = self._branch_valid(node.if_, dtype, value, iloc)
            if node.then is not None:
                add_branch(node.then, gate=cond)
            if node.else_ is not None:
                add_branch(node.else_, gate=~cond)
        for prop, s in (node.dependent_schemas or {}).items():
            add_branch(s, gate=F.map_contains_key(value, F.lit(prop)))
        if not terms:
            return F.lit(False)
        return reduce(or_, terms)

    def _evaluated_items_terms(self, node: Node, dtype, value: Column,
                               iloc: Column, *, own: bool = False,
                               _seen: frozenset = frozenset()):
        """Flattened annotation terms for ``unevaluatedItems`` at
        ``node``: ``(all_terms, pfx_terms, contains_terms)``, each a list
        of ``(cond, payload)`` where cond is ``True`` (unconditional) or
        a non-null boolean Column.  all_terms: every element evaluated
        (payload None); pfx_terms: leading ``payload`` elements evaluated
        (prefixItems); contains_terms: elements matching the payload
        contains-Node evaluated.  Branch terms are gated on the branch
        validating (annotations come only from successful subschemas)."""
        node, _seen = self._force_inplace(node, _seen)
        if node.boolean is not None:
            return [], [], []
        alls: list = []
        pfxs: list = []
        conts: list = []
        if node.prefix_items:
            pfxs.append((True, len(node.prefix_items)))
        if not own and (node.items is not None
                        or node.unevaluated_items is not None):
            alls.append((True, None))
        if node.contains is not None:
            conts.append((True, node.contains))

        def gate_terms(s: Node, gate: Optional[Column]):
            b_alls, b_pfxs, b_conts = self._evaluated_items_terms(
                s, dtype, value, iloc, _seen=_seen)
            if not (b_alls or b_pfxs or b_conts):
                return
            bv = self._branch_valid(s, dtype, value, iloc)
            g = bv if gate is None else gate & bv
            for c, p in b_alls:
                alls.append((g if c is True else g & c, p))
            for c, p in b_pfxs:
                pfxs.append((g if c is True else g & c, p))
            for c, p in b_conts:
                conts.append((g if c is True else g & c, p))

        for s in (node.all_of or []) + (node.any_of or []) + \
                 (node.one_of or []):
            gate_terms(s, None)
        if node.if_ is not None:
            gate_terms(node.if_, None)
            cond = self._branch_valid(node.if_, dtype, value, iloc)
            if node.then is not None:
                gate_terms(node.then, cond)
            if node.else_ is not None:
                gate_terms(node.else_, ~cond)
        # dependentSchemas triggers on object properties — an array value
        # has none, so it contributes no item annotations
        return alls, pfxs, conts

    # ---------------------------------------------------------- objects
    def _object_checks(self, node: Node, dtype, value: Optional[Column],
                       iloc: Column, valids: list, viols: list):
        is_row = value is None
        is_map = isinstance(dtype, T.MapType)
        if is_map:
            self._map_checks(node, dtype, value, iloc, valids, viols)
            return

        fields: dict[str, T.DataType] = {}
        if is_row:
            fields = {f.name: f.dataType for f in self.df_schema.fields}
        elif isinstance(dtype, T.StructType):
            fields = {f.name: f.dataType for f in dtype.fields}

        def get(name: str) -> Column:
            return F.col(f"`{name}`") if is_row else value.getField(name)

        def guard(col: Column) -> Column:
            """object-level keywords pass when the struct itself is NULL"""
            if is_row:
                return col
            return F.when(value.isNull(), F.lit(True)).otherwise(col)

        def guard_viols(va: Column) -> Column:
            if is_row:
                return va
            return F.when(value.isNotNull(), va).otherwise(self.empty)

        def present_fail(name: str, cond: Optional[Column] = None) -> Column:
            """fails where property ``name`` is present (and ``cond``)"""
            core = get(name).isNotNull()
            if cond is not None:
                core = core & cond
            return F.coalesce(core if is_row else value.isNotNull() & core,
                              F.lit(False))

        # required (src/validator.rs:214-219): SQL NULL models absence
        if node.required:
            missing_static = [r for r in node.required if r not in fields]
            for r in node.required:
                if r in fields:
                    ok = guard(get(r).isNotNull())
                    self._check(valids, viols, F.coalesce(~ok, F.lit(True)),
                                f"{node.loc}/required", iloc,
                                F.lit(MESSAGES["required"].format(
                                    want=f"'{r}'")))
            if missing_static:
                self._check(
                    valids, viols,
                    F.lit(True) if is_row else value.isNotNull(),
                    f"{node.loc}/required", iloc,
                    F.lit(MESSAGES["required"].format(
                        want=", ".join(f"'{m}'" for m in missing_static))))

        matched: set[str] = set()
        if node.properties:
            for name, sub in node.properties.items():
                matched.add(name)
                if name not in fields or sub.is_trivial_true():
                    continue  # absent property passes (applicability)
                c_iloc = F.concat(iloc, F.lit(f"/{name}"))
                v, vs = self.build(sub, fields[name], get(name), c_iloc)
                valids.append(F.coalesce(guard(v), F.lit(False)))
                viols.extend(guard_viols(x) for x in vs)
        if node.pattern_properties:
            for pat, sub in node.pattern_properties.items():
                rx = re.compile(node.pattern_translations[pat][1])
                for name, ft in fields.items():
                    if rx.search(name):
                        matched.add(name)
                        if sub.is_trivial_true():
                            continue
                        c_iloc = F.concat(iloc, F.lit(f"/{name}"))
                        v, vs = self.build(sub, ft, get(name), c_iloc)
                        valids.append(F.coalesce(guard(v), F.lit(False)))
                        viols.extend(guard_viols(x) for x in vs)
        if node.additional_properties is not None:
            extra = [n for n in fields if n not in matched]
            if node.additional_properties is False:
                # closed schema: extra columns fail on every row where the
                # extra property is present (non-null)
                for n in extra:
                    self._check(
                        valids, viols, present_fail(n),
                        f"{node.loc}/additionalProperties", iloc,
                        F.lit(f"additionalProperties '{n}' not allowed"))
            elif isinstance(node.additional_properties, Node):
                sub = node.additional_properties
                if not sub.is_trivial_true():
                    for n in extra:
                        c_iloc = F.concat(iloc, F.lit(f"/{n}"))
                        v, vs = self.build(sub, fields[n], get(n), c_iloc)
                        valids.append(F.coalesce(guard(v), F.lit(False)))
                        viols.extend(guard_viols(x) for x in vs)

        if node.unevaluated_properties is not None:
            # runtime annotation flow (2020-12; boon's Uneval merge,
            # src/validator.rs:930-968): over a static column set each
            # property's evaluated-flag is a pure boolean column — the OR
            # of static matches (properties / patternProperties /
            # additionalProperties here) and, per in-place applicator
            # branch, (branch validates AND branch evaluates the name).
            sub = _peek(node.unevaluated_properties)
            for nm in fields:
                ev = self._evaluated_prop(node, nm, fields, dtype, value,
                                          iloc, get, own=True)
                if ev is True:
                    continue
                not_ev = F.lit(True) if ev is False else ~ev
                if sub is False:
                    self._check(
                        valids, viols, present_fail(nm, not_ev),
                        f"{node.loc}/unevaluatedProperties", iloc,
                        F.lit(f"unevaluated property '{nm}' not allowed"))
                elif isinstance(sub, Node) and not sub.is_trivial_true():
                    c_iloc = F.concat(iloc, F.lit(f"/{nm}"))
                    v2, vs2 = self.build(sub, fields[nm], get(nm), c_iloc)
                    ok = F.when(not_ev, F.coalesce(v2, F.lit(False))) \
                        .otherwise(F.lit(True))
                    valids.append(F.coalesce(guard(ok), F.lit(False)))
                    viols.extend(
                        guard_viols(F.when(not_ev, x).otherwise(self.empty))
                        for x in vs2)

        if node.dependent_schemas:
            # if prop present → subschema applies to the whole object
            # (boon src/validator.rs:309-314)
            for prop, sub in node.dependent_schemas.items():
                if prop not in fields:
                    continue
                s_valid, s_viols = self.build(sub, dtype, value, iloc)
                ok = guard(F.when(get(prop).isNotNull(),
                                  F.coalesce(s_valid, F.lit(False)))
                           .otherwise(F.lit(True)))
                self._check(valids, viols, F.coalesce(~ok, F.lit(False)),
                            f"{node.loc}/dependentSchemas/{prop}", iloc,
                            F.lit(f"schema for dependency '{prop}' failed"))

        if node.property_names is not None:
            # key names validate against a subschema — static column set
            # makes this a compile-time check per name
            # (boon src/validator.rs:291-303)
            for name in fields:
                name_ok = _py_string_check(node.property_names, name)
                if name_ok:
                    continue
                self._check(valids, viols, present_fail(name),
                            f"{node.loc}/propertyNames", iloc,
                            F.lit(f"invalid property '{name}'"))

        if node.dependent_required:
            for prop, deps in node.dependent_required.items():
                if prop not in fields:
                    continue
                present = get(prop).isNotNull()
                # initializer: an EMPTY dependency list is valid per spec
                # and trivially satisfied (reduce over [] would crash)
                deps_ok = reduce(and_, [
                    get(d).isNotNull() if d in fields else F.lit(False)
                    for d in deps], F.lit(True))
                ok = guard(F.when(present, deps_ok).otherwise(F.lit(True)))
                self._check(valids, viols, F.coalesce(~ok, F.lit(False)),
                            f"{node.loc}/dependentRequired", iloc,
                            F.lit(MESSAGES["dependent_required"].format(
                                want=", ".join(f"'{d}'" for d in deps),
                                prop=f"'{prop}'")))

        if node.min_properties is not None or node.max_properties is not None:
            cnt = reduce(lambda a, b: a + b,
                         [get(n).isNotNull().cast("int") for n in fields]) \
                if fields else F.lit(0)
            self._property_count_checks(node, cnt, guard, iloc, valids, viols)

    def _property_count_checks(self, node: Node, cnt: Column, guard,
                               iloc: Column, valids: list, viols: list):
        """minProperties / maxProperties over ``cnt``, the number of
        properties present (non-NULL struct fields, or a map's size)."""
        for bound, kw, key in (
                (node.min_properties, "minProperties", "min_properties"),
                (node.max_properties, "maxProperties", "max_properties")):
            if bound is None:
                continue
            ok = guard(cnt >= bound if kw == "minProperties" else cnt <= bound)
            head, tail = MESSAGES[key].format(want=bound, got="\0").split("\0")
            self._check(valids, viols, F.coalesce(~ok, F.lit(False)),
                        f"{node.loc}/{kw}", iloc, F.concat(
                            F.lit(head), cnt.cast("string"), F.lit(tail)))

    def _map_checks(self, node: Node, dtype: T.MapType, value: Column,
                    iloc: Column, valids: list, viols: list):
        vt = dtype.valueType

        def guard(col):
            return F.when(value.isNull(), F.lit(True)).otherwise(col)

        if node.required:
            for r in node.required:
                ok = guard(F.map_contains_key(value, F.lit(r)))
                self._check(valids, viols, F.coalesce(~ok, F.lit(False)),
                            f"{node.loc}/required", iloc,
                            F.lit(MESSAGES["required"].format(want=f"'{r}'")))
        if node.properties:
            for name, sub in node.properties.items():
                if sub.is_trivial_true():
                    continue
                c_iloc = F.concat(iloc, F.lit(f"/{name}"))
                v, vs = self.build(sub, vt, value.getItem(name), c_iloc)
                valids.append(F.coalesce(guard(v), F.lit(False)))
                viols.extend(F.when(value.isNotNull(), x)
                             .otherwise(self.empty) for x in vs)
        # map keys are RUNTIME values — patternProperties/
        # additionalProperties/propertyNames become higher-order-function
        # checks over map_keys/map_filter (SURVEY §2.2 map mappings),
        # unlike the compile-time name matching on struct columns
        if node.pattern_properties:
            for pat, sub in node.pattern_properties.items():
                jpat = node.pattern_translations[pat][0]
                if not sub.is_trivial_true():
                    self._lambda_depth += 1
                    ok = F.forall(
                        F.map_values(F.map_filter(
                            value, lambda k, _v: k.rlike(jpat))),
                        lambda mv: F.coalesce(
                            self.build(sub, vt, mv, iloc)[0], F.lit(False)))
                    self._lambda_depth -= 1
                    self._check(valids, viols, self._fail(value, ok),
                                f"{node.loc}/patternProperties", iloc,
                                F.lit(f"values for keys matching '{pat}' "
                                      f"do not match schema"))
        if node.additional_properties is not None:
            known = list(node.properties or {})
            pats = list(node.pattern_properties or {})

            def unmatched(k: Column) -> Column:
                cond = F.lit(True)
                if known:
                    cond = cond & ~k.isin(known)
                for p in pats:
                    cond = cond & ~k.rlike(node.pattern_translations[p][0])
                return cond

            ap = node.additional_properties
            if ap is False:
                self._lambda_depth += 1
                extra_keys = F.filter(F.map_keys(value),
                                      lambda k: unmatched(k))
                self._lambda_depth -= 1
                self._check(valids, viols,
                            self._fail(value, F.size(extra_keys) == 0),
                            f"{node.loc}/additionalProperties", iloc,
                            F.concat(F.lit("additionalProperties "),
                                     F.array_join(extra_keys, ", "),
                                     F.lit(" not allowed")))
            elif isinstance(ap, Node) and not ap.is_trivial_true():
                self._lambda_depth += 1
                ok = F.forall(
                    F.map_values(F.map_filter(
                        value, lambda k, _v: unmatched(k))),
                    lambda mv: F.coalesce(
                        self.build(ap, vt, mv, iloc)[0], F.lit(False)))
                self._lambda_depth -= 1
                self._check(valids, viols, self._fail(value, ok),
                            f"{node.loc}/additionalProperties", iloc,
                            F.lit("additional property values do not "
                                  "match schema"))
        if node.property_names is not None:
            pn = node.property_names
            self._lambda_depth += 1
            ok = F.forall(F.map_keys(value), lambda k: F.coalesce(
                self.build(pn, T.StringType(), k, iloc)[0], F.lit(False)))
            self._lambda_depth -= 1
            self._check(valids, viols, self._fail(value, ok),
                        f"{node.loc}/propertyNames", iloc,
                        F.lit("invalid property name"))
        if node.dependent_required:
            for prop, deps in node.dependent_required.items():
                present = F.map_contains_key(value, F.lit(prop))
                deps_ok = reduce(and_, [
                    F.map_contains_key(value, F.lit(d)) for d in deps],
                    F.lit(True))
                ok = guard(F.when(present, deps_ok).otherwise(F.lit(True)))
                self._check(valids, viols, F.coalesce(~ok, F.lit(False)),
                            f"{node.loc}/dependentRequired", iloc,
                            F.lit(MESSAGES["dependent_required"].format(
                                want=", ".join(f"'{d}'" for d in deps),
                                prop=f"'{prop}'")))
        if node.dependent_schemas:
            for prop, sub in node.dependent_schemas.items():
                s_valid, _s_viols = self.build(sub, dtype, value, iloc)
                ok = guard(F.when(F.map_contains_key(value, F.lit(prop)),
                                  F.coalesce(s_valid, F.lit(False)))
                           .otherwise(F.lit(True)))
                self._check(valids, viols, F.coalesce(~ok, F.lit(False)),
                            f"{node.loc}/dependentSchemas/{prop}", iloc,
                            F.lit(f"schema for dependency '{prop}' failed"))
        if node.unevaluated_properties is not None:
            # runtime KEY-annotation flow: map keys are runtime values, so
            # the evaluated-flag becomes a per-key lambda — static matches
            # (properties/patternProperties/additionalProperties here) OR
            # branch terms gated on the branch validating, exactly like
            # the struct-column _evaluated_prop
            sub = _peek(node.unevaluated_properties)
            self._lambda_depth += 1
            if sub is False:
                uneval = F.filter(
                    F.map_keys(value),
                    lambda k: ~self._evaluated_key(node, k, dtype, value,
                                                   iloc, own=True))
                ok = F.size(uneval) == 0
                msg = F.concat(F.lit("unevaluated properties "),
                               F.array_join(uneval, ", "),
                               F.lit(" not allowed"))
            elif isinstance(sub, Node) and not sub.is_trivial_true():
                ok = F.forall(
                    F.map_entries(value),
                    lambda e: self._evaluated_key(
                        node, e.getField("key"), dtype, value, iloc,
                        own=True)
                    | F.coalesce(self.build(sub, vt, e.getField("value"),
                                            iloc)[0], F.lit(False)))
                msg = F.lit("unevaluated property values do not match "
                            "schema")
            else:
                ok = None
            self._lambda_depth -= 1
            if ok is not None:
                self._check(valids, viols, self._fail(value, ok),
                            f"{node.loc}/unevaluatedProperties", iloc, msg)
        if node.min_properties is not None or node.max_properties is not None:
            self._property_count_checks(node, F.size(value), guard, iloc,
                                        valids, viols)

    # ---------------------------------------------------------- logic
    def _logic_checks(self, node: Node, dtype, value, iloc: Column,
                      valids: list, viols: list):
        def sub_valid(sub: Node) -> Column:
            return F.coalesce(self.build(sub, dtype, value, iloc)[0], F.lit(False))

        if node.all_of:
            for sub in node.all_of:
                v, vs = self.build(sub, dtype, value, iloc)
                valids.append(F.coalesce(v, F.lit(False)))
                viols.extend(vs)
        if node.any_of:
            ok = reduce(or_, [sub_valid(s) for s in node.any_of])
            fail = ~ok
            valids.append(ok)
            viols.append(self._viol(fail, f"{node.loc}/anyOf", iloc,
                                    F.lit(MESSAGES["any_of"])))
        if node.one_of:
            cnt = reduce(lambda a, b: a + b,
                         [sub_valid(s).cast("int") for s in node.one_of])
            ok = cnt == 1
            valids.append(ok)
            msg = F.when(cnt == 0, F.lit(MESSAGES["one_of_none"])) \
                .otherwise(F.lit(MESSAGES["one_of_many"]))
            viols.append(self._viol(~ok, f"{node.loc}/oneOf", iloc, msg))
        if node.not_ is not None:
            ok = ~sub_valid(node.not_)
            valids.append(ok)
            viols.append(self._viol(~ok, f"{node.loc}/not", iloc,
                                    F.lit(MESSAGES["not"])))
        if node.if_ is not None and (node.then is not None or node.else_ is not None):
            cond = sub_valid(node.if_)
            then_v, then_vs = (self.build(node.then, dtype, value, iloc)
                               if node.then is not None else (F.lit(True), []))
            else_v, else_vs = (self.build(node.else_, dtype, value, iloc)
                               if node.else_ is not None else (F.lit(True), []))
            valids.append(F.when(cond, F.coalesce(then_v, F.lit(False)))
                          .otherwise(F.coalesce(else_v, F.lit(False))))
            viols.append(F.when(cond, concat_violations(then_vs, self.empty))
                         .otherwise(concat_violations(else_vs, self.empty)))


def _ddl_from_schema(node: Node) -> str:
    """Static Spark DDL for a contentSchema subschema — JSON generality
    is pinned to declared property types (string when undeclared)."""
    def spark_type(sub: Node) -> str:
        # a recursive property bottoms out as an unparsed string column
        # (the DDL maps nested objects to string anyway)
        sub = _peek(sub)
        t = (sub.types or ["string"])[0]
        return {"string": "string", "integer": "bigint", "number": "double",
                "boolean": "boolean",
                "array": "array<string>", "object": "string",
                "null": "string"}.get(t, "string")
    if not node.properties:
        raise CompileError(
            f"{node.loc}: contentSchema needs 'properties' to derive a "
            f"static parse schema for from_json")
    return ", ".join(f"`{k}` {spark_type(s)}"
                     for k, s in node.properties.items())


def _py_string_check(node: Node, s: str, _seen: frozenset = frozenset()) -> bool:
    """Driver-side evaluation of a string-keyword subschema against a
    literal (used for propertyNames over static column names)."""
    while node.lazy is not None:
        # a string has no structure to descend, so any recursion in a
        # propertyNames subschema is necessarily non-terminating
        if node.lazy_key in _seen:
            raise CompileError(
                f"{node.loc}: non-descending reference cycle in a "
                f"propertyNames subschema")
        _seen = _seen | {node.lazy_key}
        node = node.force()
    if node.boolean is not None:
        return node.boolean
    ok = True
    if node.types is not None:
        ok &= "string" in node.types
    if node.pattern is not None:
        # driver-side check → the Python-flavor translation
        ok &= re.search(node.pattern_py or node.pattern, s) is not None
    if node.min_length is not None:
        ok &= len(s) >= node.min_length
    if node.max_length is not None:
        ok &= len(s) <= node.max_length
    if node.enum is not None:
        ok &= s in node.enum
    if node.has_const:
        ok &= s == node.const
    if node.all_of:
        ok &= all(_py_string_check(x, s, _seen) for x in node.all_of)
    if node.any_of:
        ok &= any(_py_string_check(x, s, _seen) for x in node.any_of)
    if node.one_of:
        ok &= sum(_py_string_check(x, s, _seen) for x in node.one_of) == 1
    if node.not_ is not None:
        ok &= not _py_string_check(node.not_, s, _seen)
    unsupported = (node.properties or node.items or node.minimum is not None
                   or node.contains or node.format)
    if unsupported:
        raise CompileError(
            f"{node.loc}: propertyNames subschema may only use string/"
            f"logic keywords (got a non-string keyword)")
    return bool(ok)


def _range_only_valid(items: Node, dtype: T.ArrayType,
                      arr: Column) -> Optional[Column]:
    """If the element subschema is only numeric range checks (+ an integer/
    number type assertion on an integer-typed column), compile the
    all-elements check to array_min/array_max comparisons instead of a
    forall lambda.  Equivalent because range predicates are monotone:
    every element in [lo, hi] ⇔ min ≥ lo and max ≤ hi.  NULL elements are
    handled separately (array_min/max skip NULLs)."""
    et = dtype.elementType
    if items.boolean is not None or items.properties or items.required \
            or items.pattern or items.format or items.enum or items.has_const \
            or items.all_of or items.any_of or items.one_of or items.not_ \
            or items.if_ is not None or items.items is not None \
            or items.prefix_items or items.contains is not None \
            or items.multiple_of is not None or items.unique_items \
            or items.min_length is not None or items.max_length is not None \
            or items.pattern_properties or items.dependent_required \
            or items.min_properties is not None \
            or items.max_properties is not None \
            or items.additional_properties is not None:
        return None
    if json_type_of(et) != "integer":
        # fast path only for integer element columns: "integer" type checks
        # on float elements need per-element floor()
        if items.types is not None:
            return None
        if json_type_of(et) != "number":
            return None
    checks = []
    if items.types is not None:
        if not ({"integer", "number"} & set(items.types)):
            return None
        if "null" not in items.types and dtype.containsNull:
            # a NULL element must fail the type check, but array_min/max
            # skip NULLs (a containsNull=false column needs no probe)
            checks.append(_no_null_element(items, et, arr))
    if items.minimum is not None:
        checks.append(F.array_min(arr) >= F.lit(items.minimum))
    if items.exclusive_minimum is not None:
        checks.append(F.array_min(arr) > F.lit(items.exclusive_minimum))
    if items.maximum is not None:
        checks.append(F.array_max(arr) <= F.lit(items.maximum))
    if items.exclusive_maximum is not None:
        checks.append(F.array_max(arr) < F.lit(items.exclusive_maximum))
    if not checks:
        return F.lit(True)
    # NULL combined result ⇔ empty array or all-NULL elements, both of
    # which pass range keywords (applicability) → coalesce to True.
    # (false AND NULL = false in SQL, so a real failure is never masked.)
    return F.coalesce(reduce(and_, checks), F.lit(True))


_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}


def _excluded_int(items: Node, et: T.DataType) -> Optional[int]:
    """An integer of element type ``et`` that the subschema's own range
    bounds reject, or None when no bound yields one that fits."""
    bits = _INT_BITS.get(type(et))
    if bits is None:
        return None
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    for bound, pick in ((items.exclusive_maximum, math.ceil),
                        (items.maximum, lambda b: math.floor(b) + 1),
                        (items.minimum, lambda b: math.ceil(b) - 1),
                        (items.exclusive_minimum, math.floor)):
        if bound is None or (isinstance(bound, float)
                             and not math.isfinite(bound)):
            continue
        s = pick(bound)
        # a float bound compares in double: past 2^53 the sentinel could
        # round onto the bound and stop being excluded
        if lo <= s <= hi and (isinstance(bound, int) or abs(s) <= 1 << 53):
            return s
    return None


def _no_null_element(items: Node, et: T.DataType, arr: Column) -> Column:
    """True ⇔ ``arr`` holds no NULL element, as a codegen'd expression.
    ``arrays_overlap(arr, [s])`` is NULL exactly when ``arr`` holds a NULL
    and not ``s`` — one O(n) pass.  ``s`` is excluded by the element
    bounds, so an array that does hold ``s`` fails the range check anyway
    and the verdict stays exact.  Without a usable bound: ``sort_array``
    puts NULLs first, so a NULL head ⇔ some element is NULL (O(n log n),
    still codegen'd — ``array_compact``/``forall`` would be
    higher-order functions and knock the projection out of codegen)."""
    s = _excluded_int(items, et)
    if s is None:
        return (F.size(arr) == 0) | F.get(F.sort_array(arr), 0).isNotNull()
    return F.arrays_overlap(arr, F.array(F.lit(s).cast(et))).isNotNull()


def _fmt_num(x) -> str:
    if isinstance(x, float) and x.is_integer():
        return str(int(x))
    return str(x)


def _fmt_val(v) -> str:
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "null"
    if isinstance(v, (int, float)):
        return _fmt_num(v)
    return str(v)
