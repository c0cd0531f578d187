"""Error catalog for boon_spark.

Mirrors the reference's error surface (boon `src/lib.rs:560-698` ErrorKind
Display impls and `src/compiler.rs` CompileError) so violation rows carry the
same human-readable messages a boon user expects, while the *representation*
is Spark-native: violations are rows `(instance_location, keyword_location,
error)` matching boon's basic-output units (`src/output.rs:416-445`).
"""

from __future__ import annotations


class CompileError(Exception):
    """Raised when a constraint schema cannot be compiled.

    Mirrors boon's CompileError (reference `src/compiler.rs:703-935`):
    invalid schemas fail at compile time on the driver, never at run time
    on executors.
    """


class UnsupportedKeyword(CompileError):
    """Keyword is recognised but deliberately unsupported over flat rows.

    The reference's `$recursiveRef`/`$dynamicRef` dynamic-scope machinery
    (`src/validator.rs:579-652`) has no meaning for fixed-width DataFrame
    rows; we fail loudly at compile, mirroring boon's
    CompileError::UnsupportedVocabulary style (`src/compiler.rs:808-809`).
    """


# Message templates mirroring boon `src/lib.rs:560-698`, so the text of a
# violation row matches boon's Display output for the same failure.  The
# plan builder fills `{want}` and `{prop}` from the schema when it builds
# the plan, and `{got}` too where it is known then (`type`: the column's
# type); a `{got}` that depends on the row (`min_properties`,
# `max_properties`) becomes a Spark string expression evaluated per row.
# Messages of the other keywords are written where the builder emits them.
MESSAGES = {
    "false_schema": "false schema",
    "type": "want {want}, but got {got}",
    "enum": "value must be one of {want}",
    "enum_one": "value must be {want}",
    "const": "value must be {want}",
    "required": "missing properties {want}",
    "dependent_required": "properties {want} required, if {prop} property exists",
    "min_properties": "minimum {want} properties required, but got {got} properties",
    "max_properties": "maximum {want} properties required, but got {got} properties",
    "contains": "no items match contains schema",
    "not": "not failed",
    "any_of": "anyOf failed",
    "one_of_none": "oneOf failed, none matched",
    "one_of_many": "oneOf failed, multiple subschemas matched",
}
