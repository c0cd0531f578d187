"""Format predicate registry — boon's 19 built-in ``format`` checkers
(reference ``src/formats.rs:24-48``) re-expressed Spark-first.

Design: every format is a function ``Column -> Column[boolean]``.  A
built-in format is one anchored pattern string that both engines read:
the JVM runs it as an ``rlike`` (whole-stage codegen, and inside
higher-order functions — array items, map values), and Python compiles
the same string where a UDF still needs it.

* JVM, one ``rlike``: uuid, ipv4, hostname, json-pointer,
  relative-json-pointer, duration, ipv6, email, uri, uri-reference, iri,
  iri-reference, uri-template.
* JVM, a shape ``rlike`` plus integer field checks: date, time,
  date-time, period.
* Arrow-batched pandas UDF (the residue — never per-row Python, never
  inside a higher-order function: the plan builder refuses it under
  ``items`` and the like): regex (the ECMA-262 rule of ``pattern``,
  :func:`.ecma.compile_pattern`), idn-hostname and idn-email (IDNA
  tables).

Applicability follows the reference (``src/formats.rs:51-53``): format
applies to strings only, non-strings and NULLs pass — the plan builder
enforces that, these predicates may assume non-null string input.

Custom registration mirrors boon's ``register_format``
(``src/compiler.rs:146-150``): :func:`register_format` takes a name and
either a Column-expression builder or a vectorized
``pd.Series -> pd.Series[bool]`` function.
"""

from __future__ import annotations

import re
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..errors import CompileError
from . import bump_generation
from .ecma import compile_pattern

# ---------------------------------------------------------------------------
# regex-expressible formats (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

# true end of input, read the same by Java and Python regex engines: ``$``
# (and Java's ``\Z``) also match before a final line terminator, and
# Python 3.11's ``re`` has no ``\z``
_END = r"(?![\s\S])"
_LABEL = r"[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
_JP_TOKEN = r"(?:[^~/]|~[01])*"
_DEC_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_IPV4 = rf"(?:{_DEC_OCTET}\.){{3}}{_DEC_OCTET}"

_REGEXES = {
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            rf"[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}{_END}",
    "ipv4": f"^{_IPV4}{_END}",
    "hostname": rf"^(?=.{{1,253}}{_END}){_LABEL}(?:\.{_LABEL})*{_END}",
    "json-pointer": rf"^(?:/{_JP_TOKEN})*{_END}",
    "relative-json-pointer":
        rf"^(?:0|[1-9][0-9]*)(?:#|(?:/{_JP_TOKEN})*){_END}",
    # ISO8601 duration (RFC3339 appendix A grammar, no fractions —
    # matches boon src/formats.rs:230-288)
    "duration": r"^P(?:\d+W|(?=\d|T)(?:\d+Y)?(?:\d+M)?(?:\d+D)?"
                rf"(?:T(?=\d)(?:\d+H)?(?:\d+M)?(?:\d+S)?)?){_END}",
}

# ---------------------------------------------------------------------------
# calendar formats (JVM-side): one shape regex, then the fields read at
# fixed positions — try_cast, because Catalyst does not promise to
# evaluate the shape check first under ANSI mode
# ---------------------------------------------------------------------------

_DATE = r"[0-9]{4}-[0-9]{2}-[0-9]{2}"
_TIME = (r"[0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]+)?"
         r"(?:[Zz]|[+-][0-9]{2}:[0-9]{2})")


def _int(c: Column, pos: int, n: int = 2) -> Column:
    return F.substring(c, pos, n).try_cast("int")


def _date_fields_ok(c: Column) -> Column:
    # real calendar + leap years, matching boon src/formats.rs:73-124
    y, mo, d = _int(c, 1, 4), _int(c, 6), _int(c, 9)
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    days = (F.when(mo == 2, F.when(leap, 29).otherwise(28))
            .when(mo.isin(4, 6, 9, 11), 30).otherwise(31))
    return mo.between(1, 12) & (d >= 1) & (d <= days)


def _time_fields_ok(c: Column, at: int) -> Column:
    # RFC3339 full-time starting at ``at``, its offset the last six
    # characters unless it ends in Z; a leap second only at 23:59 UTC
    # after applying the offset, matching boon src/formats.rs:126-204
    h, mi, sec = _int(c, at), _int(c, at + 3), _int(c, at + 6)
    oh, om = _int(c, -5), _int(c, -2)
    utc = F.substring(c, -1, 1).isin("Z", "z")
    sign = F.when(F.substring(c, -6, 1) == "-", -1).otherwise(1)
    off = F.when(utc, 0).otherwise(sign * (oh * 60 + om))
    return ((h <= 23) & (mi <= 59) & (sec <= 60)
            & (utc | ((oh <= 23) & (om <= 59)))
            & ((sec < 60) | (F.pmod(h * 60 + mi - off, 1440) == 1439)))


def _date(c: Column) -> Column:
    return c.rlike(f"^{_DATE}{_END}") & _date_fields_ok(c)


def _time(c: Column) -> Column:
    return c.rlike(f"^{_TIME}{_END}") & _time_fields_ok(c, 1)


def _date_time(c: Column) -> Column:
    return (c.rlike(f"^{_DATE}[Tt]{_TIME}{_END}") & _date_fields_ok(c)
            & _time_fields_ok(c, 12))


def _period(c: Column) -> Column:
    # RFC3339 period: start/end, start/duration, or duration/end, split
    # at the first '/' (boon src/formats.rs:290-321); without a '/' the
    # end side is empty and fails
    start = F.substring_index(c, "/", 1)
    end = F.substring(c, F.length(start) + 2, F.length(c))
    dur_start = start.rlike(_REGEXES["duration"])
    dur_end = end.rlike(_REGEXES["duration"])
    return ((_date_time(start) | dur_start) & (_date_time(end) | dur_end)
            & ~(dur_start & dur_end))


# ---------------------------------------------------------------------------
# grammar formats (JVM-side): one anchored pattern per RFC grammar, in
# syntax Java and Python read the same way (Python reads ``email`` for
# idn-email).  A repeat that can run the length of the input is
# possessive: java.util.regex recurses once per iteration of a greedy
# group repeat, and its StackOverflowError kills the executor
# ---------------------------------------------------------------------------

_HEX = "[0-9A-Fa-f]"
_PCT = f"%{_HEX}{{2}}"
_H16 = f"{_HEX}{{1,4}}"
_LS32 = f"(?:{_H16}:{_H16}|{_IPV4})"


def _gap(k: int) -> str:
    # RFC 3986 '[ *k( h16 ":" ) h16 ] "::"'
    return f"(?:(?:{_H16}:){{0,{k}}}{_H16})?::"


# RFC 3986 IPv6address, one alternative per line of its ABNF
_IPV6 = "(?:" + "|".join(
    [f"(?:{_H16}:){{6}}{_LS32}", f"::(?:{_H16}:){{5}}{_LS32}"]
    + [f"{_gap(k)}(?:{_H16}:){{{4 - k}}}{_LS32}" for k in range(5)]
    + [f"{_gap(5)}{_H16}", _gap(6)]) + ")"
# RFC 5321 mailbox as boon reads it (src/formats.rs:581-657): a dot-atom
# or a quoted local part (quoted-pairs \" and \\ only), then a hostname,
# an [IPv4] or an [IPv6:...] literal
_ATEXT = r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]"
_EMAIL = (rf"^(?:{_ATEXT}++(?:\.{_ATEXT}++)*+"
          r'|"(?:[^"\\\r\n]|\\["\\])*+")@'
          rf"(?:(?=[A-Za-z0-9.-]{{1,253}}{_END}){_LABEL}(?:\.{_LABEL})*"
          rf"|\[(?:{_IPV4}|[Ii][Pp][Vv]6:{_IPV6})\]){_END}")
# RFC 3986 characters, '%' only in a pct-encoded triplet; a '[' or ']'
# before the query needs an authority (a '//' somewhere); RFC 3987 IRIs
# add every non-ASCII character
_URI_CHAR = r"[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=]"
_IRI_CHAR = rf"(?:{_URI_CHAR}|[^\x00-\x7f])"
_SCHEME = r"(?=[A-Za-z][A-Za-z0-9+.-]*:)"


def _uri_ref(char: str) -> str:
    return rf"(?:(?![^#?]*[\[\]])|(?=[\s\S]*//))(?:{char}|{_PCT})*+{_END}"


# RFC 6570: literals (section 2.1, any non-ASCII character kept) and
# {expression}s of varspecs, varname = varchar *( ["."] varchar )
_VARCHAR = f"(?:[A-Za-z0-9_]|{_PCT})"
_VARSPEC = rf"{_VARCHAR}(?:\.?{_VARCHAR})*+(?::[1-9][0-9]{{0,3}}|\*)?"
_TEMPLATE = (r"""^(?:[^\x00-\x20"'%<>\\^`{|}\x7f]"""
             rf"|{_PCT}|\{{[+#./;?&=,!@|]?{_VARSPEC}(?:,{_VARSPEC})*+\}})*+"
             f"{_END}")

_REGEXES.update({
    "ipv6": f"^{_IPV6}{_END}",
    "email": _EMAIL,
    "uri": f"^{_SCHEME}{_uri_ref(_URI_CHAR)}",
    "uri-reference": f"^{_uri_ref(_URI_CHAR)}",
    "iri": f"^{_SCHEME}{_uri_ref(_IRI_CHAR)}",
    "iri-reference": f"^{_uri_ref(_IRI_CHAR)}",
    "uri-template": _TEMPLATE,
})
_EMAIL_RE = re.compile(_EMAIL)


def _check_regex_fmt(s: str) -> bool:
    # the ECMA-262 rule ``pattern`` uses; Spark has no "does this
    # compile" predicate, so this one stays a UDF
    try:
        compile_pattern(s)
        return True
    except CompileError:
        return False


def _check_idn_hostname(s: str) -> bool:
    try:
        import idna
        idna.encode(s)
        return True
    except ImportError:
        # fallback: punycode round-trip via stdlib (approximate —
        # RFC5892 contextual rules need the idna package)
        try:
            s.encode("idna")
            return True
        except (UnicodeError, UnicodeDecodeError):
            return False
    except Exception:
        return False


def _check_idn_email(s: str) -> bool:
    at = s.rfind("@")
    if at <= 0 or at == len(s) - 1:
        return False
    if s[:at].isascii() and s[at + 1:].isascii():
        return bool(_EMAIL_RE.match(s))
    return _check_idn_hostname(s[at + 1:])


_PY_CHECKERS: dict[str, Callable[[str], bool]] = {
    "idn-email": _check_idn_email,
    "idn-hostname": _check_idn_hostname,
    "regex": _check_regex_fmt,
}


def _vectorized(fn: Callable[[str], bool]) -> Callable[[Column], Column]:
    """Wrap an elementwise checker as an Arrow-batched pandas UDF.  The
    builder carries ``python_udf = True``: Spark cannot evaluate it inside
    a higher-order function, so the plan builder refuses it there."""

    def make(col: Column) -> Column:
        @pandas_udf("boolean")
        def _check(batch: pd.Series) -> pd.Series:
            return batch.map(lambda s: True if s is None else fn(s))
        return _check(col)

    make.python_udf = True
    return make


# public registry: name -> Column builder
FORMATS: dict[str, Callable[[Column], Column]] = {}

for _name, _pat in _REGEXES.items():
    FORMATS[_name] = (lambda p: (lambda c: c.rlike(p)))(_pat)
FORMATS.update({"date": _date, "time": _time, "date-time": _date_time,
                "period": _period})

# Python-checker formats are Arrow-batched UDFs (no JVM pre-prune: an
# ArrowEvalPython stage evaluates the UDF for the whole batch regardless
# of a guarding AND/when, so a regex prune would not shrink Arrow traffic)
for _name, _fn in _PY_CHECKERS.items():
    FORMATS[_name] = _vectorized(_fn)


def register_format(name: str, fn, *, column_expr: bool = False) -> None:
    """Register a custom format, mirroring boon's ``register_format``
    (``src/compiler.rs:146-150``).

    ``fn`` is either an elementwise ``str -> bool`` (wrapped into an
    Arrow-batched pandas UDF) or, with ``column_expr=True``, a
    ``Column -> Column[boolean]`` builder that stays JVM-side.
    """
    FORMATS[name] = fn if column_expr else _vectorized(fn)
    bump_generation()


def format_predicate(name: str) -> Callable[[Column], Column]:
    if name not in FORMATS:
        # backstop — compile_schema fail-fasts first (schema.py), but a
        # format deregistered between compile and plan-build lands here
        raise CompileError(
            f"unknown format {name!r}; register_format() it first")
    return FORMATS[name]
