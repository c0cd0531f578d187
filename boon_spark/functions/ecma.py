"""ECMA-262 → Java-regex translation for the ``pattern`` /
``patternProperties`` keywords.

JSON Schema specifies ECMA-262 regex semantics; Spark's ``rlike`` runs
``java.util.regex``.  This is the Java-direction analogue of boon's
ECMA→Rust translator (reference ``src/ecma.rs:8-153``), handling the same
divergences:

* ``\\d``/``\\D`` — ECMA is ASCII-only; rewritten to explicit ``[0-9]``
  classes (defends against flavors where ``\\d`` is Unicode-wide, e.g.
  Python, or Java with UNICODE_CHARACTER_CLASS).
* ``\\w``/``\\W`` — same, ``[A-Za-z0-9_]``.
* ``\\s``/``\\S`` — the ECMA whitespace set is wider than Java's
  (``\\u00a0``, ``\\ufeff``, …); rewritten to the same explicit class the
  reference uses (``src/ecma.rs:103-110``).
* ``\\cX`` control escapes — folded to the literal control character
  ``chr(X % 32)`` (``src/ecma.rs:50-69``), emitted as ``\\xNN``.
* ``\\a`` — not an ECMA escape; rejected loudly (``src/ecma.rs:144-150``),
  where Java would silently match BEL.
* ``^`` / ``$`` — ECMA (non-multiline) anchors match only at input
  start/end; Java ``$`` also matches before a final line terminator.
  Rewritten to ``\\A`` / ``\\z`` (Java) and ``\\A`` / ``\\Z`` (Python
  probe).  This one the reference does not need (Rust ``$`` is already
  end-of-haystack); it matters for Java.
* ``(?`` groups — ECMA has only ``(?:``, ``(?=``, ``(?!``, ``(?<=``,
  ``(?<!`` and ``(?<name>``; ``(?P<x>``, ``(?P=x)``, ``(?#…)``, ``(?>``
  and inline flags are rejected, although Python or Java reads them.

:func:`translate` returns ``(java, py)`` — the Java pattern handed to
``rlike`` and a Python-``re``-compatible probe used for compile-time
validation and driver-side name matching (``patternProperties`` /
``propertyNames`` run on static column names, never on row data).
:func:`compile_pattern` is the one validity rule — translate, then
compile the probe — for ``pattern``, ``patternProperties`` and
``format: regex``.  So ``\\p{…}`` and ``(?<name>…)``, valid ECMA-262,
are rejected: the probe cannot compile them.
"""

from __future__ import annotations

from ..errors import CompileError

import re as _re

# boon's ECMA whitespace set (src/ecma.rs:103-110), as in-class chars
_ECMA_SPACE = " \\t\\n\\r\\x0b\\x0c\\u00a0\\ufeff\\u2003\\u2029"

# a real quantifier form: {n} {n,} {n,m}
_QUANT = _re.compile(r"\{\d+(,\d*)?\}")

# the group openers ECMA-262 has: (?:  (?=  (?!  (?<=  (?<!  (?<name>
_ECMA_GROUP = _re.compile(r"\(\?(?:[:=!]|<[=!]|<[A-Za-z_$])")

# codepoint sets behind the perl classes (ECMA/ASCII semantics)
_DIGITS = frozenset(range(0x30, 0x3A))
_WORD = _DIGITS | frozenset(range(0x41, 0x5B)) \
    | frozenset(range(0x61, 0x7B)) | {0x5F}
_SPACE = frozenset({0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D,
                    0xA0, 0xFEFF, 0x2003, 0x2029})


def _esc_cp(c: int) -> str:
    if c <= 0xFF:
        return "\\x%02x" % c
    if c <= 0xFFFF:
        return "\\u%04x" % c
    return "\\U%08x" % c


def _complement_ranges(cps: frozenset[int]) -> str:
    """In-class range text matching every codepoint NOT in ``cps`` —
    the Python-``re``-compatible expansion of a negated perl class used
    inside a character class (Python has no nested classes; Java gets
    the nested ``[^...]`` union instead)."""
    out = []
    lo = 0
    for cp in sorted(cps):
        if lo <= cp - 1:
            out.append((lo, cp - 1))
        lo = cp + 1
    out.append((lo, 0x10FFFF))
    return "".join(_esc_cp(a) if a == b else f"{_esc_cp(a)}-{_esc_cp(b)}"
                   for a, b in out)


_NOT_DIGITS = _complement_ranges(_DIGITS)
_NOT_WORD = _complement_ranges(_WORD)
_NOT_SPACE = _complement_ranges(_SPACE)


def translate(pattern: str, loc: str = "") -> tuple[str, str]:
    """Translate an ECMA-262 pattern → (java_pattern, python_probe).

    Raises :class:`CompileError` for constructs that cannot be mapped
    (``\\a``, ``\\c`` with a non-letter, a ``(?`` group ECMA-262
    lacks)."""
    java: list[str] = []
    py: list[str] = []

    def emit(s: str, ps: str | None = None):
        java.append(s)
        py.append(s if ps is None else ps)

    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if nxt == "d":
                emit("0-9" if in_class else "[0-9]")
            elif nxt == "D":
                # inside a class: Java supports nested negated classes as
                # union members ([a[^0-9]]); Python does not — the probe
                # gets the explicit complement ranges (both compose
                # correctly under a negated OUTER class too: negation
                # applies to the whole union)
                emit("[^0-9]",
                     None if not in_class else _NOT_DIGITS)
            elif nxt == "w":
                emit("A-Za-z0-9_" if in_class else "[A-Za-z0-9_]")
            elif nxt == "W":
                emit("[^A-Za-z0-9_]",
                     None if not in_class else _NOT_WORD)
            elif nxt == "s":
                emit(_ECMA_SPACE if in_class else f"[{_ECMA_SPACE}]")
            elif nxt == "S":
                emit(f"[^{_ECMA_SPACE}]",
                     None if not in_class else _NOT_SPACE)
            elif nxt == "c":
                # \c{control_letter} → literal control char (ecma.rs:50-69)
                if i + 2 < n and pattern[i + 2].isascii() \
                        and pattern[i + 2].isalpha():
                    emit("\\x%02x" % (ord(pattern[i + 2]) % 32))
                    i += 3
                    continue
                raise CompileError(
                    f"{loc}/pattern: \\c must be followed by an ASCII "
                    f"letter (ECMA 262 control escape)")
            elif nxt == "a":
                # Java matches BEL here; ECMA has no \a (ecma.rs:144-150)
                raise CompileError(
                    f"{loc}/pattern: \\a is not an ECMA 262 control escape")
            else:
                emit(c + nxt)
            i += 2
            continue
        if c == "[" and not in_class:
            in_class = True
            emit(c)
            i += 1
            # leading negation stays part of the class header
            if i < n and pattern[i] == "^":
                emit("^")
                i += 1
            continue
        if c == "]" and in_class:
            in_class = False
            emit(c)
            i += 1
            continue
        if in_class and c == "[":
            # ECMA: a literal '[' inside a class; Java: opens a NESTED
            # class ("Unclosed character class" or silent union) — escape
            emit("\\[")
            i += 1
            continue
        if in_class and c == "&":
            # ECMA: literal '&'; Java: '&&' is class INTERSECTION —
            # escaping every '&' keeps the literal semantics
            emit("\\&")
            i += 1
            continue
        if not in_class and c == "{" and not _QUANT.match(pattern, i):
            # ECMA (Annex B): a '{' that does not start a quantifier is a
            # literal; Java throws "Unclosed counted closure" — escape
            emit("\\{")
            i += 1
            continue
        if not in_class and c == "(" and pattern.startswith("?", i + 1) \
                and not _ECMA_GROUP.match(pattern, i):
            raise CompileError(
                f"{loc}/pattern: {pattern[i:i + 3]!r} is not an ECMA 262 "
                f"group")
        if not in_class and c == "^":
            emit("\\A")
            i += 1
            continue
        if not in_class and c == "$":
            # ECMA $ = end of input only; Java $ also matches before a
            # final line terminator → \z.  Python has no \z → probe \Z.
            emit("\\z", "\\Z")
            i += 1
            continue
        emit(c)
        i += 1
    return "".join(java), "".join(py)


def compile_pattern(pattern: str, loc: str = "") -> tuple[str, str]:
    """The ECMA-262 validity rule: :func:`translate`, then compile the
    Python probe.  Returns ``(java, py)``; raises :class:`CompileError`
    for a pattern that is not ECMA-262 or that the probe cannot
    compile."""
    java, py = translate(pattern, loc)
    try:
        _re.compile(py)
    except _re.error as e:
        raise CompileError(
            f"{loc}/pattern: invalid regex {pattern!r}: {e}") from e
    return java, py
