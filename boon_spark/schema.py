"""Driver-side constraint-schema compiler.

Mirrors the *role* of boon's ``Compiler::compile`` (reference
``src/compiler.rs:198-317``): parse a JSON-Schema-style constraint document
once on the driver, validate it against a meta-spec (boon meta-validates
schemas against the draft metaschema, ``src/roots.rs:86-94``), resolve
``$ref``s with cycle detection (``src/compiler.rs:751-821``), pre-compile
regexes and pre-type enum/const values (``src/compiler.rs:374-396,436-445``).

The output is a :class:`Node` tree — the analogue of boon's flat
``Vec<Schema>`` IR (``src/lib.rs:198-268``) — that ``plans/builder.py``
lowers to Spark Column expressions.  Nothing here touches Spark: this module
is pure Python and unit-testable without a session.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from typing import Any, Optional

from .errors import CompileError
from .functions.ecma import compile_pattern

# JSON types, exactly the reference's 7 (src/lib.rs:310-350).
JSON_TYPES = {"null", "boolean", "number", "integer", "string", "array", "object"}

# Keywords we compile.  Anything else present in a schema is ignored
# (plain unknown keywords are annotations, per spec and boon).
SUPPORTED = {
    "type", "const", "enum", "format",
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf",
    "minLength", "maxLength", "pattern",
    "minItems", "maxItems", "uniqueItems", "items", "prefixItems",
    "additionalItems", "contains", "minContains", "maxContains",
    "required", "properties", "patternProperties", "additionalProperties",
    "dependentRequired", "dependencies", "dependentSchemas", "propertyNames",
    "minProperties", "maxProperties",
    "unevaluatedProperties", "unevaluatedItems",
    "contentEncoding", "contentMediaType", "contentSchema",
    "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
    "$ref", "$defs", "definitions",
    "$recursiveRef", "$recursiveAnchor", "$dynamicRef", "$dynamicAnchor",
    # annotation-only — accepted, ignored:
    "title", "description", "default", "examples", "$schema", "$id",
    "$anchor", "$vocabulary", "$comment", "deprecated", "readOnly",
    "writeOnly",
}

# annotation keywords never make a dict a "bare schema" — a table-spec
# wrapper may legally carry a title/description next to its "schema" key
ANNOTATIONS = {
    "title", "description", "default", "examples", "$schema", "$id",
    "$anchor", "$vocabulary", "$comment", "deprecated", "readOnly",
    "writeOnly",
}

# ---------------------------------------------------------------------------
# draft dispatch (boon src/draft.rs:202-235 keyword tables, 427-437 $schema
# resolution).  A declared $schema selects the draft; keywords the draft
# does not define are IGNORED as annotations (per spec — they are plain
# unknown keywords there), exactly like boon's per-draft keyword sets.
# Without $schema the engine stays permissive (union of all drafts).
# ---------------------------------------------------------------------------

DRAFT_URIS = {
    "json-schema.org/draft-04/schema": 4,
    "json-schema.org/draft-06/schema": 6,
    "json-schema.org/draft-07/schema": 7,
    "json-schema.org/draft/2019-09/schema": 2019,
    "json-schema.org/draft/2020-12/schema": 2020,
}

# keyword → draft that introduced it (unlisted supported keywords: draft 4)
KEYWORD_INTRODUCED = {
    "const": 6, "contains": 6, "propertyNames": 6,
    "if": 7, "then": 7, "else": 7,
    "contentEncoding": 7, "contentMediaType": 7,
    "$anchor": 2019, "dependentRequired": 2019, "dependentSchemas": 2019,
    "unevaluatedProperties": 2019, "unevaluatedItems": 2019,
    "minContains": 2019, "maxContains": 2019, "contentSchema": 2019,
    "$recursiveRef": 2019, "$recursiveAnchor": 2019,
    "prefixItems": 2020, "$dynamicRef": 2020, "$dynamicAnchor": 2020,
}

# keyword → first draft where it is no longer defined
# Reference-parity note: boon keeps `dependencies` compiled in EVERY
# draft (compile_draft4 runs unconditionally, compiler.rs:400-414) and
# `$recursiveRef`/`$recursiveAnchor` in every draft >= 2019 (the
# dispatcher calls compile_draft2019 for 2020 too, compiler.rs:339-341)
# even though the specs dropped them — compat behavior we mirror.
# `additionalItems`/tuple-items ARE gated out at 2020
# (compiler.rs:363-371 `if draft_version() < 2020`).
KEYWORD_REMOVED = {
    "additionalItems": 2020,
}

# standard vocabulary URI prefixes of 2019-09/2020-12 — anything else
# marked required=true in a custom metaschema's $vocabulary is an
# UnsupportedVocabulary error (boon src/compiler.rs:808-809)
KNOWN_VOCAB_PREFIXES = (
    "https://json-schema.org/draft/2019-09/vocab/",
    "https://json-schema.org/draft/2020-12/vocab/",
)

# vocabulary model (boon src/draft.rs:83-115 all_vocabs/default_vocabs,
# src/root.rs:16-24 has_vocab): a 2019+/2020 schema under a CUSTOM
# metaschema gets exactly the vocabularies that metaschema marks
# required=true; under a standard metaschema it gets the draft
# defaults.  core is always on; keywords of a disabled vocabulary are
# plain annotations (ignored), exactly like keywords of a later draft.
ALL_VOCABS = {
    2019: frozenset({"core", "applicator", "validation", "meta-data",
                     "format", "content"}),
    2020: frozenset({"core", "applicator", "unevaluated", "validation",
                     "meta-data", "format-annotation", "format-assertion",
                     "content"}),
}
DEFAULT_VOCABS = {
    2019: frozenset({"core", "applicator", "validation"}),
    2020: frozenset({"core", "applicator", "unevaluated", "validation"}),
}
KEYWORD_VOCABS = {
    **{k: "validation" for k in (
        "type", "const", "enum", "minimum", "maximum",
        "exclusiveMinimum", "exclusiveMaximum", "multipleOf",
        "minLength", "maxLength", "pattern", "minItems", "maxItems",
        "uniqueItems", "minContains", "maxContains", "required",
        "dependentRequired", "minProperties", "maxProperties")},
    **{k: "applicator" for k in (
        "properties", "patternProperties", "additionalProperties",
        "dependentSchemas", "propertyNames", "items", "prefixItems",
        "additionalItems", "contains", "allOf", "anyOf", "oneOf",
        "not", "if", "then", "else",
        # compiled in every draft (compat) but still inside boon's
        # has_vocab("applicator") block, compiler.rs:357-415
        "dependencies")},
    # unevaluated*: "applicator" in 2019, "unevaluated" in 2020 —
    # resolved in _vocab_enabled (boon compiler.rs:581-586)
}


def draft_of_uri(uri: str) -> Optional[int]:
    """Known-draft number of a $schema URI (scheme- and fragment-
    insensitive), or None for custom metaschemas."""
    u = uri.strip().rstrip("#")
    for scheme in ("http://", "https://"):
        if u.startswith(scheme):
            u = u[len(scheme):]
            break
    return DRAFT_URIS.get(u)


@dataclass
class Node:
    """One compiled subschema — the analogue of boon's ``Schema`` struct
    (src/lib.rs:198-268), with keyword args pre-parsed."""

    loc: str = ""                      # keyword location, e.g. "/properties/n_tok"
    # dereferenced schema pointer for absoluteKeywordLocation (boon
    # src/output.rs:416-445): equals ``loc`` except below an inlined
    # $ref, where it points into the defining resource (e.g.
    # loc "/properties/x/$ref/minimum" → abs_loc "/$defs/pos/minimum").
    # abs_uri carries the defining resource's URI when that resource is
    # not the root document (empty → the root's base URI applies).
    abs_loc: str = ""
    abs_uri: str = ""
    boolean: Optional[bool] = None     # `true` / `false` schema

    types: Optional[list[str]] = None
    const: Any = None
    has_const: bool = False
    enum: Optional[list[Any]] = None
    format: Optional[str] = None

    minimum: Optional[float] = None
    maximum: Optional[float] = None
    exclusive_minimum: Optional[float] = None
    exclusive_maximum: Optional[float] = None
    multiple_of: Optional[float] = None

    min_length: Optional[int] = None
    max_length: Optional[int] = None
    pattern: Optional[str] = None      # Java-translated regex (for rlike)
    pattern_py: Optional[str] = None   # Python-flavor probe (driver checks)
    pattern_src: Optional[str] = None  # original source (error messages)

    min_items: Optional[int] = None
    max_items: Optional[int] = None
    unique_items: bool = False
    items: Optional["Node"] = None             # uniform element schema
    prefix_items: Optional[list["Node"]] = None
    contains: Optional["Node"] = None
    min_contains: Optional[int] = None
    max_contains: Optional[int] = None

    required: Optional[list[str]] = None
    properties: Optional[dict[str, "Node"]] = None
    pattern_properties: Optional[dict[str, "Node"]] = None  # keyed by source
    # source pattern → (java, python_probe) translations for the keys
    pattern_translations: Optional[dict[str, tuple[str, str]]] = None
    additional_properties: Any = None  # None | bool | Node
    dependent_required: Optional[dict[str, list[str]]] = None
    dependent_schemas: Optional[dict[str, "Node"]] = None
    property_names: Optional["Node"] = None
    min_properties: Optional[int] = None
    max_properties: Optional[int] = None

    unevaluated_properties: Any = None  # None | bool | Node
    unevaluated_items: Any = None       # None | bool | Node

    content_encoding: Optional[str] = None
    content_media_type: Optional[str] = None
    content_schema: Optional["Node"] = None

    all_of: Optional[list["Node"]] = None
    any_of: Optional[list["Node"]] = None
    one_of: Optional[list["Node"]] = None
    not_: Optional["Node"] = None
    if_: Optional["Node"] = None
    then: Optional["Node"] = None
    else_: Optional["Node"] = None

    # -- lazy recursive reference (cyclic $ref/$recursiveRef/$dynamicRef).
    # boon evaluates recursion at runtime with a per-value cycle guard
    # (src/validator.rs:107-115,999-1011); we unroll it at PLAN time,
    # type-directed: a cycle occurrence compiles to a thunk instead of
    # diverging, and PlanBuilder forces one level each time the Spark
    # column type descends.  Recursion terminates because column types
    # are finite; a cycle that does NOT descend the instance (allOf/$ref
    # loops) is rejected with CompileError (the compile-time analogue of
    # boon's runtime infinite-loop detection).
    lazy: Any = None                   # () -> Node thunk, or None
    lazy_key: Optional[tuple] = None   # (base_uri, ref) cycle identity
    _forced: Any = None

    def force(self) -> "Node":
        """Expand one level of a lazy recursive reference (memoized)."""
        if self.lazy is None:
            return self
        if self._forced is None:
            self._forced = self.lazy()
        return self._forced

    def is_trivial_true(self) -> bool:
        return self.boolean is True


@dataclass
class CompiledSchema:
    """Root of a compiled constraint document plus table-level extensions."""

    root: Node
    source: dict = field(default_factory=dict)
    # resource URI for absoluteKeywordLocation output (root $id if any)
    base_uri: str = ""
    # table-level (cross-row) extensions — boon has no cross-row checks;
    # these are the Spark-native additions of SURVEY.md §2.6:
    unique: list[list[str]] = field(default_factory=list)
    references: list[dict] = field(default_factory=list)
    invariants: list[dict] = field(default_factory=list)
    # everything the compile read, for the manifest identity: the spec
    # itself under default options with no outside resource, else
    # ``{"spec": ..., <options the spec does not fix>, "fragment": ...,
    # "resources": {uri: doc}}``
    identity: Any = None


def _expect(cond: bool, loc: str, kw: str, want: str, got: Any) -> None:
    """Metaschema-shape assertion — the compile-time analogue of boon's
    schema-against-metaschema validation (``src/roots.rs:86-94``): a
    malformed keyword payload fails with a precise message naming the
    keyword, the expected shape, and what was found."""
    if not cond:
        kind = type(got).__name__
        kind = {"dict": "object", "list": "array", "str": "string",
                "bool": "boolean", "NoneType": "null"}.get(kind, kind)
        raise CompileError(f"{loc}/{kw}: expected {want}, got {kind}")


def _num(v: Any, kw: str, loc: str) -> float:
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise CompileError(f"{loc}/{kw}: expected number, got {type(v).__name__}")
    return v


def _nonneg_int(v: Any, kw: str, loc: str) -> int:
    if isinstance(v, bool) or not isinstance(v, int) or v < 0:
        raise CompileError(f"{loc}/{kw}: expected non-negative integer, got {v!r}")
    return v


def root_base_uri(doc: Any, default_draft: Optional[int]) -> str:
    """Root document's base URI under the per-draft id model: draft-4
    spells the id keyword ``id`` (boon src/draft.rs:18), and drafts
    <2019 ignore the fragment part of a resource id (draft.rs:198 — the
    fragment is a legacy anchor declaration).  Standard-URI ``$schema``
    check only: custom metaschemas are 2019+ (with ``$id``), so the
    ``$id`` spelling is always right for them.  Returns "" when the
    document declares no id."""
    if not isinstance(doc, dict):
        return ""
    sv = doc.get("$schema")
    rd = draft_of_uri(sv) if isinstance(sv, str) else None
    if rd is None and not isinstance(sv, str):
        rd = default_draft
    rid = doc.get("id" if rd == 4 else "$id")
    if not isinstance(rid, str):
        return ""
    if rd is not None and rd < 2019:
        rid = rid.split("#", 1)[0]
    return rid


class Compiler:
    """Worklist-free recursive compiler (our schemas are trees after $ref
    inlining; boon needs a FIFO queue, src/compiler.rs:937-985, because it
    supports cyclic refs — we forbid cycles over fixed-width rows).

    Cross-document references mirror boon's resource model: pre-supplied
    resources are ``add_resource`` parity (``src/compiler.rs:182-187``),
    the optional ``loader`` callable is ``UrlLoader``/``FileLoader``
    parity (``src/loader.rs:23-72``) — it receives the resolved absolute
    URI and returns the raw document.  Refs inside a loaded resource
    resolve in THAT resource's context (its own anchors, its own base
    URI for further relative refs)."""

    def __init__(self, doc: dict, *, resources: Optional[dict] = None,
                 base_uri: str = "", loader=None,
                 assert_format: bool = False, assert_content: bool = False,
                 default_draft: Optional[int] = None):
        self.doc = doc
        self.loader = loader
        # fallback draft for documents WITHOUT $schema (boon
        # set_default_draft, src/compiler.rs:99-101).  None keeps this
        # engine's permissive union-of-drafts default.
        if default_draft is not None and default_draft not in \
                (4, 6, 7, 2019, 2020):
            raise CompileError(
                f"default_draft must be one of 4/6/7/2019/2020, "
                f"got {default_draft!r}")
        self.default_draft = default_draft
        # assertion modes (boon enable_format_assertions /
        # enable_content_assertions, src/compiler.rs:105-130): format
        # asserts by default only in drafts <= 7 (or when the metaschema
        # requires the format / format-assertion vocabulary); content
        # keywords are annotation-only unless enabled, in every draft
        self.assert_format = assert_format
        self.assert_content = assert_content
        root_base = root_base_uri(doc, default_draft) or base_uri
        self.resources: dict[str, Any] = dict(resources or {})
        if root_base:
            self.resources.setdefault(root_base, doc)
        self._ref_stack: list[tuple[str, str]] = []
        self._ref_cache: dict[tuple[str, str, str], Node] = {}
        # id(doc) → (anchors, embedded $id resources, dynamic anchors)
        self._scans: dict[int, tuple[dict, dict, dict, dict]] = {}
        # id(doc) → the draft that governed its scan (embedded resources
        # without $schema inherit the embedding document's draft)
        self._scan_draft: dict[int, Optional[int]] = {}
        # resource-context stack: (document, base URI, draft,
        # format_vocab_required, meta_vocabs) — "#..." refs and relative
        # URIs resolve against the TOP of this stack; each resource's
        # $schema selects its own draft gating, format-vocabulary
        # assertion mode, and enabled vocabulary set
        self._ctx: list[tuple] = []
        # (id(doc), draft) → required-vocab frozenset — _meta_vocabs is
        # consulted twice per ctx push (directly + via format gating)
        self._vocab_memo: dict[tuple, Optional[frozenset]] = {}
        self._scan_resource(doc)
        # eagerly scan embedded $id resources transitively, like boon's
        # up-front resource collection (src/root.rs / roots.rs): anchor
        # and $id duplicates inside an embedded resource must fail even
        # when nothing references it yet (invalid-schemas.json
        # DuplicateId/DuplicateAnchor)
        while self._scan_new_embedded():
            pass
        # (loc_prefix, abs_prefix, abs_uri) for absoluteKeywordLocation:
        # below an inlined pointer-$ref the dereferenced location
        # substitutes the use-site prefix with the definition pointer,
        # carrying the defining resource's URI when it is not the root
        self._loc_prefix: Optional[str] = None  # None = disabled
        self._abs_prefix = ""
        self._abs_uri = ""
        root_draft = self._draft_for_doc(doc)
        if root_draft is None:
            # the default draft applies at the ROOT only; resources
            # without $schema inherit their referrer's draft (which
            # itself starts from this default), so a document that
            # DECLARES a draft keeps it for its embedded resources —
            # default_draft must not override an explicit declaration
            root_draft = self.default_draft
        self._ctx.append((doc, root_base, root_draft,
                          self._format_vocab_required(doc, root_draft),
                          self._meta_vocabs(doc, root_draft)))

    def _format_vocab_required(self, doc: Any,
                               draft: Optional[int]) -> bool:
        """Does this resource's metaschema mark the format vocabulary as
        REQUIRED?  boon asserts ``format`` in 2019-09 when the metaschema
        requires ``.../vocab/format`` and in 2020-12 when it requires
        ``.../vocab/format-assertion`` (``src/compiler.rs:488-494``).
        Derived from :meth:`_meta_vocabs` so "required" means exactly
        one thing (literal ``true``, like boon's ``Value::Bool(true)``
        match) for both format gating and keyword-group gating."""
        try:
            names = self._meta_vocabs(doc, draft)
        except CompileError:
            return False
        if not names:
            return False
        return ("format-assertion" if draft == 2020 else "format") in names

    def _meta_vocabs(self, doc: Any,
                     draft: Optional[int]) -> Optional[frozenset]:
        """required=true vocabulary names declared by a CUSTOM
        metaschema (boon loader.rs:176-197 + draft.rs:202-233); None →
        the draft's defaults apply (standard metaschema / no $schema).
        A required vocabulary with the standard prefix but an unknown
        name is UnsupportedVocabulary, like boon."""
        if draft not in (2019, 2020) or not isinstance(doc, dict):
            return None
        memo_key = (id(doc), draft)
        if memo_key in self._vocab_memo:
            return self._vocab_memo[memo_key]
        # NOTE: only successful outcomes are cached — an
        # unsupported-vocabulary CompileError must raise on EVERY call
        # (format gating catches it; the ctx push must still see it)
        s = doc.get("$schema")
        if not isinstance(s, str) or draft_of_uri(s) is not None:
            self._vocab_memo[memo_key] = None
            return None
        try:
            meta = self._find_resource(s.rstrip("#"))
        except CompileError:
            return None
        vocab = meta.get("$vocabulary") if isinstance(meta, dict) else None
        if not isinstance(vocab, dict):
            self._vocab_memo[memo_key] = None
            return None
        prefix = KNOWN_VOCAB_PREFIXES[1 if draft == 2020 else 0]
        names = set()
        for uri, req in vocab.items():
            if req is not True:
                continue  # optional vocabularies are ignored (boon too)
            u = str(uri)
            name = u[len(prefix):].rstrip("/") if u.startswith(prefix) \
                else None
            # boon draft.rs:218-233: a required vocabulary must belong
            # to the resource's OWN draft (wrong-draft or custom URIs
            # are UnsupportedVocabulary)
            if name is None or name not in ALL_VOCABS[draft]:
                raise CompileError(
                    f"$schema {s!r}: unsupported required "
                    f"vocabulary {u!r}")
            names.add(name)
        self._vocab_memo[memo_key] = frozenset(names)
        return self._vocab_memo[memo_key]

    def _vocab_enabled(self, kw: str, draft: Optional[int]) -> bool:
        """boon Root::has_vocab (src/root.rs:16-24): drafts < 2019 have
        no vocabulary model; core is always on; otherwise the resource's
        metaschema-required vocabularies (or the draft defaults) decide."""
        if draft is None or draft < 2019:
            return True
        if kw in ("unevaluatedProperties", "unevaluatedItems"):
            grp = "applicator" if draft == 2019 else "unevaluated"
        else:
            grp = KEYWORD_VOCABS.get(kw)
        if grp is None:
            return True  # core / annotation keywords
        vocabs = self._ctx[-1][4]
        if vocabs is None:
            vocabs = DEFAULT_VOCABS[draft]
        return grp in vocabs

    def _format_asserted(self) -> bool:
        """format asserts when: explicitly enabled; draft <= 7 (where the
        core vocabulary includes it, boon compiler.rs:488-491); or the
        resource's metaschema requires the format(-assertion) vocabulary.
        No ``$schema`` follows the configured ``default_draft`` (so
        ``default_draft<=7`` makes format assert); without one the
        permissive mode matches boon's default draft (2020-12):
        annotation-only."""
        draft, fmt_vocab = self._ctx[-1][2], self._ctx[-1][3]
        return (self.assert_format
                or (draft is not None and draft <= 7)
                or fmt_vocab)

    def _draft_for_doc(self, doc: Any, *, _depth: int = 0) -> Optional[int]:
        """Draft selected by a resource's ``$schema`` (boon
        ``src/draft.rs:427-437``).  Standard URIs map directly; a custom
        metaschema is resolved like any resource, its ``$vocabulary`` is
        checked (unknown required vocabulary → CompileError, boon's
        UnsupportedVocabulary), and the draft is inherited from ITS
        ``$schema``.  No ``$schema`` → None = permissive union of all
        drafts (this engine's default)."""
        if not isinstance(doc, dict):
            return None
        s = doc.get("$schema")
        if not isinstance(s, str):
            return None
        d = draft_of_uri(s)
        if d is not None:
            return d
        if _depth >= 3:
            raise CompileError(f"$schema {s!r}: metaschema chain too deep")
        try:
            meta = self._find_resource(s.rstrip("#"))
        except CompileError:
            raise CompileError(
                f"$schema {s!r}: unknown metaschema — use a standard "
                f"draft URI or supply the metaschema document via "
                f"resources={{uri: doc}} or a loader") from None
        if isinstance(meta, dict):
            vocab = meta.get("$vocabulary")
            if isinstance(vocab, dict):
                for uri, required in vocab.items():
                    # literal true only — boon's Value::Bool(true) match
                    # (consistent with _meta_vocabs)
                    if required is True and not str(uri).startswith(
                            KNOWN_VOCAB_PREFIXES):
                        raise CompileError(
                            f"$schema {s!r}: unsupported required "
                            f"vocabulary {uri!r}")
        return self._draft_for_doc(meta, _depth=_depth + 1)

    def _scan_resource(self, doc: Any,
                       inherit_draft: Optional[int] = None
                       ) -> tuple[dict, dict, dict, dict]:
        """Anchor names and embedded ``$id`` resources of one document,
        mirroring boon's resource/anchor collection
        (src/draft.rs:239-297, src/root.rs:112-117).  Cached per doc.
        Returns ``(anchors, embedded, dynamic, anchor_paths)`` —
        ``anchor_paths`` maps each anchor name to the JSON pointer of the
        anchored subschema within this resource, so anchor-form refs can
        report the definition-site absoluteKeywordLocation like boon's
        per-schema ``loc`` does (src/compiler.rs Schema.loc)."""
        key = id(doc)
        if key in self._scans:
            return self._scans[key]
        anchors: dict[str, Any] = {}
        apaths: dict[str, str] = {}
        embedded: dict[str, Any] = {}
        # per-draft id model (boon src/draft.rs:18,46,131 `id` field +
        # collect_anchors:239-297): draft-4 spells the keyword "id";
        # drafts <2019 take anchors from the id keyword's FRAGMENT part
        # (`"$id": "#foo"` / draft-4 `"id": "#foo"`), and the resource
        # id ignores the fragment (draft.rs:198); $anchor/$dynamicAnchor
        # exist only from 2019/2020.  draft None (permissive union)
        # accepts every form.  Like boon, one draft governs the whole
        # document scan (the root's $schema).
        draft = self._draft_for_doc(doc)
        if draft is None:
            draft = inherit_draft if inherit_draft is not None \
                else self.default_draft
        self._scan_draft[key] = draft
        idkw = "id" if draft == 4 else "$id"
        legacy = draft is not None and draft < 2019   # id-fragment anchors
        permissive = draft is None
        new_anchors = permissive or draft >= 2019     # $anchor keyword
        dyn_anchors = permissive or draft >= 2020     # $dynamicAnchor
        # duplicate-$id detection compares RESOLVED ids ("item.json" vs
        # "./item.json" — and vs "https://base/item.json" when the
        # resource's own $id gives an absolute base — are the same
        # resource; boon's DuplicateId keys on the resolved URI).  All
        # embedded ids of one document resolve against the same base;
        # a dummy base stands in when the resource has no absolute $id.
        from urllib.parse import unquote, urljoin

        def split_id(rid: str) -> tuple[str, str]:
            """(resource-id part, decoded fragment part)."""
            if "#" in rid:
                base, frag = rid.split("#", 1)
                return base, unquote(frag)
            return rid, ""

        own = doc.get(idkw) if isinstance(doc, dict) else None
        own_frag = ""
        if isinstance(own, str) and legacy:
            own, own_frag = split_id(own)
        id_base = own if isinstance(own, str) and "://" in own \
            else "http://dup-check/"
        id_norms: dict[str, Any] = {urljoin(id_base, own): doc} \
            if isinstance(own, str) and own else {}
        # $dynamicAnchor names of THIS resource (dynamic-scope resolution,
        # boon's per-resource dynamic_anchors map, src/root.rs /
        # src/validator.rs:636-652).  A $dynamicAnchor also creates a
        # plain anchor (2020-12 core §8.2.2) → merged into `anchors` too.
        dynamic: dict[str, Any] = {}
        # data-valued keywords: their contents are instance VALUES, not
        # subschemas — a const value containing an "$anchor" key must not
        # be collected as (or collide with) a real anchor
        data_keys = {"const", "enum", "default", "examples"}

        def esc(tok: str) -> str:  # RFC 6901 pointer-token escaping
            return tok.replace("~", "~0").replace("/", "~1")

        def add_anchor(name: str, v: Any, path: str):
            if name in anchors and anchors[name] is not v:
                raise CompileError(f"duplicate $anchor {name!r}")
            anchors[name] = v
            apaths[name] = path

        def walk(v: Any, top: bool, path: str):
            if isinstance(v, dict):
                rid = v.get(idkw)
                frag = ""
                if isinstance(rid, str) and legacy:
                    rid, frag = split_id(rid)
                if isinstance(rid, str) and rid and not top:
                    # an embedded id starts a NEW resource: record it,
                    # but its anchors (including a legacy id-fragment
                    # anchor riding on this same id) belong to ITS
                    # namespace — collected when that resource is
                    # scanned, not this one
                    nid = urljoin(id_base, rid)
                    if nid in id_norms and id_norms[nid] is not v:
                        raise CompileError(f"duplicate $id {rid!r}")
                    id_norms[nid] = v
                    embedded[rid] = v
                    return
                if legacy and frag and not frag.startswith("/") \
                        and "$ref" not in v:
                    # drafts <2019: the id keyword's fragment declares an
                    # anchor at this node ($ref-bearing objects declare
                    # none — boon draft.rs:269-283)
                    add_anchor(frag, v, path)
                a = v.get("$anchor")
                if isinstance(a, str) and new_anchors:
                    if a in anchors:
                        raise CompileError(f"duplicate $anchor {a!r}")
                    anchors[a] = v
                    apaths[a] = path
                da = v.get("$dynamicAnchor")
                if isinstance(da, str) and dyn_anchors:
                    if da in dynamic:
                        raise CompileError(f"duplicate $dynamicAnchor {da!r}")
                    # a $dynamicAnchor also creates a plain anchor
                    # (2020-12 core §8.2.2), so it collides with an
                    # existing $anchor of the same name in EITHER
                    # document order (boon DuplicateAnchor)
                    if da in anchors and anchors[da] is not v:
                        raise CompileError(f"duplicate $anchor {da!r}")
                    dynamic[da] = v
                    anchors[da] = v
                    apaths[da] = path
                for k, sub in v.items():
                    if k not in data_keys:
                        walk(sub, False, f"{path}/{esc(k)}")
            elif isinstance(v, list):
                for i, sub in enumerate(v):
                    walk(sub, False, f"{path}/{i}")

        if legacy and own_frag and not own_frag.startswith("/"):
            add_anchor(own_frag, doc, "")  # root id with anchor fragment
        walk(doc, True, "")
        self._scans[key] = (anchors, embedded, dynamic, apaths)
        return anchors, embedded, dynamic, apaths

    def compile(self, fragment: str = "") -> Node:
        """Compile the root document, or — boon
        ``Compiler::compile("schema.json#a1")`` parity
        (tests/compiler.rs:34-53) — the subschema a ``#``-fragment
        (anchor or JSON pointer) selects as the validation root.
        keywordLocation output is relative to that root, like boon's."""
        target = self.doc
        if fragment:
            frag = fragment.lstrip("#")
            target = self._walk_fragment(self.doc, frag, f"#{frag}")
            # decide pointer-vs-anchor on the DECODED form, like
            # _walk_fragment itself ("#%2Fa" is a pointer)
            from urllib.parse import unquote
            dec = unquote(frag)
            if dec.startswith("/"):
                # pointer roots substitute the definition pointer into
                # absoluteKeywordLocation (anchor roots keep relative
                # locations, matching anchor-$ref behavior)
                self._loc_prefix = ""
                self._abs_prefix = dec
        return self.compile_value(target, "")

    # -- $ref resolution (compile-time inlining; cycle → CompileError,
    #    mirroring boon's RefCycle, src/validator.rs:999-1011) --
    def _scan_new_embedded(self) -> bool:
        """One sweep scanning any not-yet-scanned embedded resources;
        True if something new was scanned (callers loop to fixpoint)."""
        changed = False
        for pkey, (_a, embedded, _d, _p) in list(self._scans.items()):
            for sub in embedded.values():
                if id(sub) not in self._scans:
                    # an embedded resource without its own $schema is
                    # governed by the embedding document's draft
                    self._scan_resource(
                        sub, inherit_draft=self._scan_draft.get(pkey))
                    changed = True
        return changed

    def _find_resource(self, uri: str) -> Any:
        """Locate a resource document by absolute (or as-written) URI:
        pre-supplied resources first, then embedded ``$id`` subschemas of
        every scanned document, then the loader."""
        if uri in self.resources:
            return self.resources[uri]
        # fixpoint over embedded resources: scanning a resource may
        # reveal resources nested inside it (each $id starts a new
        # anchor namespace, so scans stop at resource boundaries)
        while True:
            for _anchors, embedded, _dyn, _p in list(self._scans.values()):
                if uri in embedded:
                    return embedded[uri]
            if not self._scan_new_embedded():
                break
        if self.loader is not None:
            # a failing loader (URLError offline, FileNotFoundError, …)
            # must surface as CompileError so callers' fallbacks — the
            # as-written-URI retry in _resolve_ref, _draft_for_doc's
            # unknown-metaschema message — still run
            try:
                got = self.loader(uri)
            except Exception as e:
                raise CompileError(
                    f"$ref: loader failed for {uri!r}: {e}") from e
            if got is not None:
                self.resources[uri] = got
                self._scan_resource(got)
                return got
        raise CompileError(
            f"$ref: cannot resolve resource {uri!r} (supply it via "
            f"resources={{uri: doc}} or a loader)")

    def _walk_fragment(self, doc: Any, frag: str, ref: str) -> Any:
        # RFC 6901: "" is the whole document; "/" is the pointer to the
        # EMPTY-STRING-keyed member (one empty reference token)
        if frag == "":
            return doc
        from urllib.parse import unquote
        frag = unquote(frag)  # percent-decode, like boon src/util.rs:161-176
        if not frag.startswith("/"):  # "name" = $anchor reference
            anchors, _, _, _ = self._scan_resource(doc)
            if frag in anchors:
                return anchors[frag]
            raise CompileError(f"$ref {ref!r}: no $anchor named {frag!r}")
        val = doc
        for raw in frag.lstrip("/").split("/"):
            tok = raw.replace("~1", "/").replace("~0", "~")
            if isinstance(val, dict) and tok in val:
                val = val[tok]
            elif isinstance(val, list) and tok.isdigit() and int(tok) < len(val):
                val = val[int(tok)]
            else:
                raise CompileError(f"$ref {ref!r}: cannot resolve token {tok!r}")
        return val

    def _resolve_ref(self, ref: str):
        """ref → (value, target_doc, target_uri, pointer_frag_or_None).

        ``target_doc``/``target_uri`` describe the resource the value
        lives in (pushed as context while compiling the target, so its
        internal refs resolve locally); ``pointer_frag`` drives
        absoluteKeywordLocation substitution for pointer refs."""
        cur_doc, cur_base = self._ctx[-1][0], self._ctx[-1][1]
        uri_part, frag = (ref.split("#", 1) + [""])[:2] if "#" in ref \
            else (ref, "")
        if uri_part == "":
            doc = cur_doc
            uri = cur_base
        else:
            from urllib.parse import urljoin
            uri = urljoin(cur_base, uri_part) if cur_base else uri_part
            try:
                doc = self._find_resource(uri)
            except CompileError:
                if uri != uri_part:
                    doc = self._find_resource(uri_part)
                    uri = uri_part
                else:
                    raise
        val = self._walk_fragment(doc, frag, ref)
        from urllib.parse import unquote
        dec = unquote(frag)  # pointer-vs-anchor on the decoded form,
        if dec.startswith("/") or dec == "":  # like _walk_fragment
            ptr = dec
        else:
            # anchor-form fragment: report the anchored subschema's
            # definition pointer, like boon's per-schema `loc`
            ptr = self._scan_resource(doc)[3].get(dec)
        return val, doc, uri, ptr

    def _compile_ref_kw(self, kw: str, ref: Any, loc: str) -> Node:
        """Compile one reference keyword ($ref / $recursiveRef /
        $dynamicRef) at ``loc``.  A RECURSIVE occurrence (its cycle key
        is already on the inline stack) compiles to a lazy thunk instead
        of diverging — :class:`~..plans.builder.PlanBuilder` forces one
        level each time the Spark column type descends, so recursion
        unrolls exactly as deep as the data's static structure (boon
        instead guards at runtime, src/validator.rs:107-115)."""
        _expect(isinstance(ref, str), loc, kw, "string (URI)", ref)
        cur_base = self._ctx[-1][1]
        cycle_key = (cur_base, ref)
        # cache per USE SITE (loc included): a shared cached node
        # would bake the FIRST use site's keywordLocation into
        # violations reported from every other use site.  Cycle
        # detection stays per (base, ref) — location-independent.
        key = (cur_base, ref, loc, kw)
        if cycle_key in self._ref_stack:
            # snapshot the full resolution context: forcing happens at
            # plan-build time, after the compile walk has moved on, and
            # must resolve exactly as this use site would have (the
            # inline stack doubles as the $dynamicRef dynamic scope)
            snap = (list(self._ctx), list(self._ref_stack),
                    self._loc_prefix, self._abs_prefix, self._abs_uri)

            def thunk(kw=kw, ref=ref, loc=loc, snap=snap):
                saved = (self._ctx, self._ref_stack, self._loc_prefix,
                         self._abs_prefix, self._abs_uri)
                (self._ctx, self._ref_stack, self._loc_prefix,
                 self._abs_prefix, self._abs_uri) = \
                    (list(snap[0]), list(snap[1]), snap[2], snap[3], snap[4])
                try:
                    return self._compile_ref_target(kw, ref, loc)
                finally:
                    (self._ctx, self._ref_stack, self._loc_prefix,
                     self._abs_prefix, self._abs_uri) = saved

            floc = f"{loc}/{kw}"
            return Node(loc=floc, abs_loc=self._abs(floc),
                        abs_uri=self._abs_uri_of(floc),
                        lazy=thunk, lazy_key=cycle_key)
        if key in self._ref_cache:
            return self._ref_cache[key]
        self._ref_stack.append(cycle_key)
        try:
            node = self._compile_ref_target(kw, ref, loc)
        finally:
            self._ref_stack.pop()
        self._ref_cache[key] = node
        return node

    def _compile_ref_target(self, kw: str, ref: str, loc: str) -> Node:
        """Resolve ``ref`` (with dynamic-scope re-resolution for the
        dynamic keywords) and compile the target at ``loc/kw``."""
        target, t_doc, t_uri, ptr = self._resolve_ref(ref)
        if kw == "$recursiveRef":
            # boon src/validator.rs:579-585,619-634: if the initial
            # target carries $recursiveAnchor:true, re-resolve to the
            # OUTERMOST dynamic-scope resource whose root does too.  The
            # compile-time inline stack IS the dynamic scope: every
            # runtime evaluation path corresponds to one inline path.
            if isinstance(target, dict) and \
                    target.get("$recursiveAnchor") is True:
                for d, u, *_rest in self._ctx:
                    if isinstance(d, dict) and \
                            d.get("$recursiveAnchor") is True:
                        target, t_doc, t_uri, ptr = d, d, u, ""
                        break
        elif kw == "$dynamicRef":
            # boon src/validator.rs:587-598,636-652 + 2020-12 core
            # §8.2.3.2 bookending: only an anchor-form fragment whose
            # initial target is a matching $dynamicAnchor re-resolves
            # (otherwise $dynamicRef degenerates to $ref); the OUTERMOST
            # dynamic-scope resource declaring the anchor wins.
            frag = ref.split("#", 1)[1] if "#" in ref else ""
            anchor = frag if frag and not frag.startswith("/") else None
            if anchor is not None and isinstance(target, dict) and \
                    target.get("$dynamicAnchor") == anchor:
                for d, u, *_rest in self._ctx:
                    if not isinstance(d, dict):
                        continue
                    scan = self._scan_resource(d)
                    if anchor in scan[2]:
                        target, t_doc, t_uri, ptr = \
                            scan[2][anchor], d, u, scan[3].get(anchor)
                        break
        # dereferenced prefix: both pointer and anchor refs substitute
        # the definition-site pointer (anchor paths come from the
        # resource scan; cross-resource targets carry their resource
        # URI) — boon's absoluteKeywordLocation is always the target
        # schema's own location (src/output.rs:416-445)
        old = (self._loc_prefix, self._abs_prefix, self._abs_uri)
        if ptr is not None:
            self._loc_prefix = f"{loc}/{kw}"
            self._abs_prefix = ptr
            self._abs_uri = (t_uri if t_uri != self._ctx[0][1]
                             else "")
        # a foreign resource's own $schema selects its draft;
        # a resource without one inherits the referrer's
        t_draft = self._draft_for_doc(t_doc)
        if t_draft is None:
            t_draft = self._ctx[-1][2]
        self._ctx.append((t_doc, t_uri, t_draft,
                          self._format_vocab_required(t_doc, t_draft),
                          self._meta_vocabs(t_doc, t_draft)))
        try:
            return self.compile_value(target, f"{loc}/{kw}")
        finally:
            self._ctx.pop()
            (self._loc_prefix, self._abs_prefix, self._abs_uri) = old

    def _abs(self, loc: str) -> str:
        if self._loc_prefix is not None and loc.startswith(self._loc_prefix):
            return self._abs_prefix + loc[len(self._loc_prefix):]
        return loc

    def _abs_uri_of(self, loc: str) -> str:
        if self._loc_prefix is not None and loc.startswith(self._loc_prefix):
            return self._abs_uri
        return ""

    @staticmethod
    def _keyword_active(kw: str, draft: Optional[int]) -> bool:
        """Is ``kw`` defined in ``draft``?  Keywords a draft does not
        define are plain unknown keywords there → ignored as annotations
        (boon's per-draft keyword sets, src/draft.rs:202-235).  draft
        None = permissive union."""
        if draft is None:
            return True
        if draft < KEYWORD_INTRODUCED.get(kw, 4):
            return False
        removed = KEYWORD_REMOVED.get(kw)
        return removed is None or draft < removed

    def compile_value(self, v: Any, loc: str) -> Node:
        if isinstance(v, dict):
            cur_draft = self._ctx[-1][2]
            rid = v.get("id" if cur_draft == 4 else "$id")
            if isinstance(rid, str) and cur_draft is not None \
                    and cur_draft < 2019:
                # the resource id ignores the fragment part (a legacy
                # anchor declaration, handled by the resource scan)
                rid = rid.split("#", 1)[0] or None
            if isinstance(rid, str) and v is not self._ctx[-1][0]:
                # descending into an embedded $id starts a NEW resource:
                # its base URI governs relative refs inside it, and it
                # joins the dynamic scope for $dynamicRef/$recursiveRef
                # resolution — mirroring boon's runtime scope chain
                # (src/validator.rs:619-652).  $ref-target compiles push
                # their resource before calling here, so `v is ctx top`
                # guards against a double push.
                from urllib.parse import urljoin
                cur_base = self._ctx[-1][1]
                r_uri = urljoin(cur_base, rid) if cur_base else rid
                r_draft = self._draft_for_doc(v)
                if r_draft is None:
                    r_draft = self._ctx[-1][2]
                self._ctx.append((v, r_uri, r_draft,
                                  self._format_vocab_required(v, r_draft),
                                  self._meta_vocabs(v, r_draft)))
                try:
                    return self._compile_value(v, loc)
                finally:
                    self._ctx.pop()
        return self._compile_value(v, loc)

    def _compile_value(self, v: Any, loc: str) -> Node:
        if isinstance(v, bool):
            return Node(loc=loc, abs_loc=self._abs(loc),
                        abs_uri=self._abs_uri_of(loc), boolean=v)
        if not isinstance(v, dict):
            raise CompileError(f"{loc}: schema must be boolean or object")
        draft = self._ctx[-1][2]
        if draft is not None:
            v = {k: s for k, s in v.items()
                 if self._keyword_active(k, draft)
                 and self._vocab_enabled(k, draft)}
        ref_kws = [kw for kw in ("$ref", "$recursiveRef", "$dynamicRef")
                   if kw in v]
        if ref_kws:
            ref_nodes = [self._compile_ref_kw(kw, v[kw], loc)
                         for kw in ref_kws]
            # draft ≤7: $ref REPLACES the whole schema object — siblings
            # are ignored (boon src/draft.rs draft7 ref behavior; the
            # dynamic-ref keywords don't exist ≤7, filtered above);
            # 2019+ (and permissive): refs + siblings = allOf(...)
            if "$ref" in ref_kws and draft is not None and draft <= 7:
                return ref_nodes[ref_kws.index("$ref")]
            siblings = {k: s for k, s in v.items() if k not in ref_kws}
            if siblings:
                # merge the refs into the sibling node's allOf (NOT an
                # artificial wrapper): unevaluatedProperties/Items next
                # to a $ref must see the ref target's annotations, and
                # the builder's annotation walkers already treat allOf
                # branches as annotation sources (2020-12 core §11;
                # boon's Uneval merge sees $ref the same way,
                # src/validator.rs:930-968)
                sib = self.compile_value(siblings, loc)
                sib.all_of = ref_nodes + (sib.all_of or [])
                return sib
            if len(ref_nodes) == 1:
                return ref_nodes[0]
            return Node(loc=loc, abs_loc=self._abs(loc),
                        abs_uri=self._abs_uri_of(loc), all_of=ref_nodes)

        n = Node(loc=loc, abs_loc=self._abs(loc),
                 abs_uri=self._abs_uri_of(loc))

        if "type" in v:
            t = v["type"]
            _expect(isinstance(t, (str, list)), loc, "type",
                    "string or array of strings", t)
            ts = [t] if isinstance(t, str) else list(t)
            bad = [x for x in ts if x not in JSON_TYPES]
            if bad:
                raise CompileError(f"{loc}/type: unknown type(s) {bad}")
            n.types = ts
        if "const" in v:
            n.const, n.has_const = v["const"], True
        if "enum" in v:
            if not isinstance(v["enum"], list) or not v["enum"]:
                raise CompileError(f"{loc}/enum: must be a non-empty array")
            n.enum = v["enum"]
        if "format" in v:
            # metaschema shape holds in BOTH modes; the registry check and
            # the compiled assertion only when format asserts (boon
            # compiler.rs:488-502: annotation mode skips compile entirely,
            # and an unknown format name is an annotation even when
            # asserting — we fail-fast instead so an unregistered name
            # surfaces as a clean CompileError, not a silent pass)
            if not isinstance(v["format"], str):
                raise CompileError(f"{loc}/format: expected string")
            if self._format_asserted():
                from .functions.formats import FORMATS
                if v["format"] not in FORMATS:
                    raise CompileError(
                        f"{loc}/format: unknown format {v['format']!r}; "
                        f"register_format() it first")
                n.format = v["format"]

        for kw, attr in (("minimum", "minimum"), ("maximum", "maximum"),
                         ("exclusiveMinimum", "exclusive_minimum"),
                         ("exclusiveMaximum", "exclusive_maximum")):
            if kw in v and not isinstance(v[kw], bool):
                setattr(n, attr, _num(v[kw], kw, loc))
        # draft-4 boolean exclusive form folded at compile
        # (boon src/compiler.rs:449-465)
        if v.get("exclusiveMinimum") is True and n.minimum is not None:
            n.exclusive_minimum, n.minimum = n.minimum, None
        if v.get("exclusiveMaximum") is True and n.maximum is not None:
            n.exclusive_maximum, n.maximum = n.maximum, None
        if "multipleOf" in v:
            m = _num(v["multipleOf"], "multipleOf", loc)
            if m <= 0:
                raise CompileError(f"{loc}/multipleOf: must be > 0")
            n.multiple_of = m

        if "minLength" in v:
            n.min_length = _nonneg_int(v["minLength"], "minLength", loc)
        if "maxLength" in v:
            n.max_length = _nonneg_int(v["maxLength"], "maxLength", loc)
        if "pattern" in v:
            _expect(isinstance(v["pattern"], str), loc, "pattern",
                    "string (regex)", v["pattern"])
            n.pattern, n.pattern_py = compile_pattern(v["pattern"], loc)
            n.pattern_src = v["pattern"]

        if "minItems" in v:
            n.min_items = _nonneg_int(v["minItems"], "minItems", loc)
        if "maxItems" in v:
            n.max_items = _nonneg_int(v["maxItems"], "maxItems", loc)
        if "uniqueItems" in v:
            _expect(isinstance(v["uniqueItems"], bool), loc, "uniqueItems",
                    "boolean", v["uniqueItems"])
        n.unique_items = bool(v.get("uniqueItems", False))

        items = v.get("items")
        prefix = v.get("prefixItems")
        if isinstance(items, list):  # draft<=2019 tuple form
            if draft is not None and draft >= 2020:
                raise CompileError(
                    f"{loc}/items: the array form was removed in "
                    f"2020-12 — use prefixItems")
            prefix = items
            items = v.get("additionalItems")
        if prefix is not None:
            _expect(isinstance(prefix, list), loc,
                    "prefixItems" if "prefixItems" in v else "items",
                    "array of subschemas", prefix)
            n.prefix_items = [
                self.compile_value(s, f"{loc}/prefixItems/{i}")
                for i, s in enumerate(prefix)]
        if items is not None:
            n.items = self.compile_value(items, loc + "/items")
        if "contains" in v:
            n.contains = self.compile_value(v["contains"], loc + "/contains")
            if "minContains" in v:
                n.min_contains = _nonneg_int(v["minContains"], "minContains", loc)
            if "maxContains" in v:
                n.max_contains = _nonneg_int(v["maxContains"], "maxContains", loc)

        if "required" in v:
            _expect(isinstance(v["required"], list) and
                    all(isinstance(r, str) for r in v["required"]),
                    loc, "required", "array of strings", v["required"])
            n.required = list(v["required"])
        if "properties" in v:
            _expect(isinstance(v["properties"], dict), loc, "properties",
                    "object of subschemas", v["properties"])
            n.properties = {
                k: self.compile_value(s, f"{loc}/properties/{k}")
                for k, s in v["properties"].items()}
        if "patternProperties" in v:
            _expect(isinstance(v["patternProperties"], dict), loc,
                    "patternProperties", "object of subschemas",
                    v["patternProperties"])
            # keys are kept by SOURCE; translations carry both flavors —
            # struct columns match names driver-side (Python re), map
            # columns match runtime keys executor-side (Java rlike)
            n.pattern_properties = {
                k: self.compile_value(s, f"{loc}/patternProperties/{k}")
                for k, s in v["patternProperties"].items()}
            n.pattern_translations = {
                k: compile_pattern(k, loc)
                for k in v["patternProperties"]}
        if "additionalProperties" in v:
            ap = v["additionalProperties"]
            n.additional_properties = (
                ap if isinstance(ap, bool)
                else self.compile_value(ap, loc + "/additionalProperties"))
        for kw in ("dependentRequired", "dependencies", "dependentSchemas"):
            if kw in v:
                _expect(isinstance(v[kw], dict), loc, kw, "object", v[kw])
        if "dependentRequired" in v:
            for prop, deps in v["dependentRequired"].items():
                _expect(isinstance(deps, list) and
                        all(isinstance(d, str) for d in deps),
                        loc, f"dependentRequired/{prop}",
                        "array of strings", deps)
        dep_req = {k: list(vv)
                   for k, vv in v.get("dependentRequired", {}).items()}
        dep_sch = {}
        for prop, dep in v.get("dependencies", {}).items():  # draft<=7 form
            if isinstance(dep, list):
                # boon enforces `dependencies` in every draft alongside
                # 2019's dependentRequired (both compiled,
                # compiler.rs:400-414 + 568-573) — UNION the required
                # lists; overwriting would drop one keyword's demands
                dep_req[prop] = list(dict.fromkeys(
                    dep_req.get(prop, []) + dep))
            else:
                dep_sch[prop] = self.compile_value(
                    dep, f"{loc}/dependencies/{prop}")
        for prop, sub in v.get("dependentSchemas", {}).items():  # 2019+
            node = self.compile_value(sub, f"{loc}/dependentSchemas/{prop}")
            if prop in dep_sch:
                # schema-form dependencies AND dependentSchemas on the
                # same property: both apply (allOf), same union rule as
                # the required-list forms above
                both = Node(loc=f"{loc}/dependentSchemas/{prop}",
                            abs_loc=self._abs(
                                f"{loc}/dependentSchemas/{prop}"),
                            abs_uri=self._abs_uri_of(loc),
                            all_of=[dep_sch[prop], node])
                dep_sch[prop] = both
            else:
                dep_sch[prop] = node
        if dep_req:
            n.dependent_required = {k: list(vv) for k, vv in dep_req.items()}
        if dep_sch:
            n.dependent_schemas = dep_sch
        if "propertyNames" in v:
            n.property_names = self.compile_value(
                v["propertyNames"], loc + "/propertyNames")
        # content keywords are annotation-only unless content assertions
        # are enabled — every draft (boon compiler.rs:122-130,534-545,
        # 589-595); metaschema shape checks hold in both modes
        if "contentEncoding" in v:
            _expect(isinstance(v["contentEncoding"], str), loc,
                    "contentEncoding", "string", v["contentEncoding"])
            if self.assert_content:
                n.content_encoding = v["contentEncoding"]
        if "contentMediaType" in v:
            _expect(isinstance(v["contentMediaType"], str), loc,
                    "contentMediaType", "string", v["contentMediaType"])
            if self.assert_content:
                n.content_media_type = v["contentMediaType"]
        if "contentSchema" in v and self.assert_content:
            n.content_schema = self.compile_value(
                v["contentSchema"], loc + "/contentSchema")
        if "minProperties" in v:
            n.min_properties = _nonneg_int(v["minProperties"], "minProperties", loc)
        if "maxProperties" in v:
            n.max_properties = _nonneg_int(v["maxProperties"], "maxProperties", loc)
        for kw, attr in (("unevaluatedProperties", "unevaluated_properties"),
                         ("unevaluatedItems", "unevaluated_items")):
            if kw in v:
                u = v[kw]
                setattr(n, attr, u if isinstance(u, bool)
                        else self.compile_value(u, f"{loc}/{kw}"))

        for kw, attr in (("allOf", "all_of"), ("anyOf", "any_of"), ("oneOf", "one_of")):
            if kw in v:
                subs = v[kw]
                if not isinstance(subs, list) or not subs:
                    raise CompileError(f"{loc}/{kw}: must be a non-empty array")
                setattr(n, attr, [
                    self.compile_value(s, f"{loc}/{kw}/{i}")
                    for i, s in enumerate(subs)])
        if "not" in v:
            n.not_ = self.compile_value(v["not"], loc + "/not")
        if "if" in v:
            # literal boolean `if` → dead branch is pruned at compile and
            # never loaded/compiled (matches the reference's laziness for
            # untaken branches; Extra-Test-Suite draft7/if-then-else.json)
            if v["if"] is True:
                if "then" in v:
                    n.all_of = (n.all_of or []) + [
                        self.compile_value(v["then"], loc + "/then")]
            elif v["if"] is False:
                if "else" in v:
                    n.all_of = (n.all_of or []) + [
                        self.compile_value(v["else"], loc + "/else")]
            else:
                n.if_ = self.compile_value(v["if"], loc + "/if")
                if "then" in v:
                    n.then = self.compile_value(v["then"], loc + "/then")
                if "else" in v:
                    n.else_ = self.compile_value(v["else"], loc + "/else")

        return n


def compile_schema(doc: Any, *, resources: Optional[dict] = None,
                   loader=None, assert_format: bool = False,
                   assert_content: bool = False,
                   fragment: str = "",
                   default_draft: Optional[int] = None) -> CompiledSchema:
    """Compile a constraint document.  Accepts either a bare JSON-Schema
    dict or a table-spec dict ``{"schema": {...}, "unique": [...],
    "references": [...], "invariants": [...]}`` carrying the cross-row
    extensions of SURVEY.md §2.6.

    ``resources`` maps URI → raw schema document for cross-document
    ``$ref`` targets (boon ``add_resource``, src/compiler.rs:182-187);
    ``loader`` is a ``uri → doc`` callable consulted for anything not
    pre-supplied (boon ``UrlLoader``/``FileLoader``, src/loader.rs:23-72).

    ``assert_format`` / ``assert_content`` are boon's
    ``enable_format_assertions`` / ``enable_content_assertions``
    (src/compiler.rs:105-130): by default ``format`` asserts only in
    drafts <= 7 (or under a metaschema requiring the format vocabulary)
    and the ``content*`` keywords are annotation-only.  A table-spec dict
    may opt in inline via ``{"assert_format": true, "assert_content":
    true}``.  ``default_draft`` (kwarg or inline spec key) is boon's
    ``set_default_draft``: the draft applied to documents without
    ``$schema`` (default: permissive union of all drafts)."""
    if isinstance(doc, dict) and "schema" in doc and not (
            set(doc) & (SUPPORTED - ANNOTATIONS)):
        schema_doc = doc["schema"]
        extra = doc
    else:
        schema_doc = doc
        extra = {}
    assert_format = bool(extra.get("assert_format", assert_format))
    assert_content = bool(extra.get("assert_content", assert_content))
    default_draft = extra.get("default_draft", default_draft)
    if not isinstance(schema_doc, (dict, bool)):
        raise CompileError("schema must be a dict or boolean")
    compiler = Compiler(schema_doc, resources=resources,
                        loader=loader, assert_format=assert_format,
                        assert_content=assert_content,
                        default_draft=default_draft)
    root = compiler.compile(fragment)
    # an option the spec sets inline is already part of the spec; every
    # resource document other than the root, pre-supplied or loaded, is
    # something the compile read
    read = {k: v for k, v in (("assert_format", assert_format),
                              ("assert_content", assert_content),
                              ("default_draft", default_draft),
                              ("fragment", fragment))
            if v and k not in extra}
    used = {u: d for u, d in compiler.resources.items()
            if d is not schema_doc}
    if used:
        read["resources"] = used
    unique = [[c] if isinstance(c, str) else list(c) for c in extra.get("unique", [])]
    base = root_base_uri(schema_doc, default_draft)
    return CompiledSchema(
        root=root,
        base_uri=base,
        source=doc if isinstance(doc, dict) else {},
        unique=unique,
        references=list(extra.get("references", [])),
        invariants=list(extra.get("invariants", [])),
        # a snapshot: a caller editing the spec dict after the compile
        # must not change the identity of the schema compiled before it
        identity=copy.deepcopy({"spec": doc, **read} if read else doc),
    )
