"""ECMA-262 → Java regex translation unit tests, mirroring the
reference translator's own cases (boon ``src/ecma.rs:155-197``) plus the
Java-specific anchor handling.  Behavior-through-rlike coverage lives in
tests/fixtures/ecma_regex.json."""

import pytest

from boon_spark.errors import CompileError
from boon_spark.functions.ecma import compile_pattern, translate


@pytest.mark.parametrize("src,want_java", [
    # mirrors ecma.rs test_ecma_compat_valid (translated for Java)
    (r"ab\cAcde\cBfg", "ab\\x01cde\\x02fg"),   # \c{control_letter}
    (r"\\comment", r"\\comment"),              # escaped backslash, no \c
    (r"ab\def", "ab[0-9]ef"),                  # \d
    (r"ab[a-z\d]ef", "ab[a-z0-9]ef"),          # \d inside a class
    (r"ab\Def", "ab[^0-9]ef"),                 # \D
    (r"a\wb", "a[A-Za-z0-9_]b"),               # \w
    (r"a\Wb", "a[^A-Za-z0-9_]b"),              # \W
    (r"^x$", "\\Ax\\z"),                       # ECMA anchors → \A/\z
    (r"[^x$]", "[^x$]"),                       # $ literal inside class
    (r"a\$b", "a\\$b"),                        # escaped $ untouched
])
def test_translate_java(src, want_java):
    java, _py = translate(src)
    assert java == want_java


def test_python_probe_uses_big_z():
    java, py = translate(r"^x$")
    assert java.endswith("\\z") and py.endswith("\\Z")


@pytest.mark.parametrize("src", [
    r"\c\n",       # \c{invalid_char} (ecma.rs test_ecma_compat_invalid)
    r"abc\adef",   # \a is not an ECMA escape
    r"(?P<x>a)",   # Python named group (ECMA spells it (?<x>a))
    r"(a)(?P=x)",  # Python named backreference
    r"a(?#c)",     # comment group
    r"(?i)a",      # inline flags
    r"(?i:a)",
    r"(?>a)",      # atomic group
])
def test_translate_rejects(src):
    with pytest.raises(CompileError):
        translate(src)


@pytest.mark.parametrize("src,matches,rejects", [
    # negated perl classes INSIDE a class: Java gets a nested negated
    # class union (ecma.rs replace_class_class emits the [^...] form);
    # the Python probe gets exact complement ranges
    (r"^[a\D]$", ["a", "x", "!", "é", "٣"], ["5"]),   # ٣ = Arabic 3
    (r"^[\S]$", ["x", "-"], [" ", " ", "﻿"]),
    (r"^[a-z\W]$", ["q", "!", " ", "é"], ["5", "_", "Q"]),
    (r"^[^a\D]$", ["5"], ["a", "x", "!"]),            # negated outer class
])
def test_class_internal_negated_perl_classes(src, matches, rejects):
    import re
    java, py = translate(src)
    assert "[^" in java  # nested negated class on the Java side
    probe = re.compile(py)
    for s in matches:
        assert probe.match(s), f"{src} should match {s!r}"
    for s in rejects:
        assert not probe.match(s), f"{src} should reject {s!r}"


def test_class_internal_negated_perl_classes_java(spark):
    # the same semantics through java.util.regex (rlike), which is what
    # executes at scale
    from pyspark.sql import functions as F
    java, _py = translate(r"^[a\D]$")
    df = spark.createDataFrame(
        [("a",), ("x",), ("!",), ("é",), ("5",)], "s string")
    got = sorted(r.s for r in df.filter(F.col("s").rlike(java)).collect())
    assert got == ["!", "a", "x", "é"]
    java2, _ = translate(r"^[^a\D]$")
    got2 = sorted(r.s for r in df.filter(F.col("s").rlike(java2)).collect())
    assert got2 == ["5"]


@pytest.mark.parametrize("src", [
    r"(?<x>a)",    # ECMA named group: the Python probe cannot compile it
    r"\p{L}",      # ECMA property escape: same
])
def test_compile_pattern_rejects(src):
    with pytest.raises(CompileError):
        compile_pattern(src)


@pytest.mark.parametrize("src", [
    r"(?:a)(?=b)(?!c)(?<=d)(?<!e)",   # the (? groups ECMA-262 has
    r"\(?a",                           # escaped paren, then a quantifier
    r"[(?i)]",                         # '(?' inside a class is literal
])
def test_compile_pattern_accepts(src):
    compile_pattern(src)


def test_pattern_comment_group_is_compile_error():
    from boon_spark.schema import compile_schema
    with pytest.raises(CompileError, match=r"/properties/s/pattern"):
        compile_schema({"properties": {"s": {"pattern": "(?#c)"}}})


def test_compile_integrates_translation():
    from boon_spark.schema import compile_schema
    n = compile_schema({"properties": {"s": {"pattern": r"^a\sb$"}}})
    node = n.root.properties["s"]
    assert node.pattern.startswith("\\Aa[")
    assert node.pattern_src == r"^a\sb$"


@pytest.mark.parametrize("src,want_java", [
    # class-internal constructs where Java diverges from ECMA
    (r"[[]", r"[\[]"),            # literal '[' in class: Java would throw
    (r"[a&&b]", r"[a\&\&b]"),     # '&&' is Java class INTERSECTION
    (r"a{2", r"a\{2"),            # dangling '{': Java 'Unclosed counted closure'
    (r"a{2}", r"a{2}"),           # real quantifiers untouched
    (r"a{2,}b{1,3}", r"a{2,}b{1,3}"),
    (r"[{]", r"[{]"),             # '{' inside class is literal in both
])
def test_translate_java_class_escapes(src, want_java):
    java, py = translate(src)
    assert java == want_java
    import re
    re.compile(py)  # probe stays Python-valid
