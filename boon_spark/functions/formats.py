"""Format predicate registry — boon's 19 built-in ``format`` checkers
(reference ``src/formats.rs:24-48``) re-expressed Spark-first.

Design: every format is a function ``Column -> Column[boolean]``.  Formats
that need no Python grammar stay JVM-side (whole-stage codegen): a single
``rlike`` for the regex formats, and for the calendar formats (date,
time, date-time, period) a shape ``rlike`` plus integer field checks —
so they also run inside higher-order functions (array items, map
values).  The residue (ipv6, email, URI and IRI grammars, uri-template,
regex, idn-*) runs as Arrow-batched pandas UDFs — never per-row Python
(input_hint mandate), but never inside a higher-order function either:
the plan builder refuses such a format under ``items`` and the like.
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

from . import bump_generation

# ---------------------------------------------------------------------------
# regex-expressible formats (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

# true end of input, read the same by Java and Python regex engines: ``$``
# (and Java's ``\Z``) also match before a final line terminator, and
# Python 3.11's ``re`` has no ``\z``
_END = r"(?![\s\S])"
_LABEL = r"[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
_JP_TOKEN = r"(?:[^~/]|~[01])*"

_REGEXES = {
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            rf"[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}{_END}",
    "ipv4": r"^(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
            rf"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9]){_END}",
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


def _check_ipv6(s: str) -> bool:
    import ipaddress
    if "%" in s:
        return False
    try:
        ipaddress.IPv6Address(s)
        return True
    except ValueError:
        return False


_ATEXT = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
             "0123456789!#$%&'*+-/=?^_`{|}~")
_HOSTNAME_RE = re.compile(_REGEXES["hostname"])
_IPV4_RE = re.compile(_REGEXES["ipv4"])


def _check_email(s: str) -> bool:
    # RFC5321-ish, matching boon src/formats.rs:581-657: dot-atom or
    # quoted-string local part; hostname or [ip] domain.
    at = s.rfind("@")
    if at <= 0 or at == len(s) - 1:
        return False
    local, domain = s[:at], s[at + 1:]
    if local.startswith('"') and local.endswith('"') and len(local) >= 2:
        body = local[1:-1]
        i = 0
        while i < len(body):
            c = body[i]
            if c == "\\":
                # quoted-pair: only \" and \\ (matches the reference's
                # email checker, src/formats.rs:581-657)
                if i + 1 >= len(body) or body[i + 1] not in '"\\':
                    return False
                i += 2
            elif c in '"\r\n':
                return False
            else:
                i += 1
    else:
        parts = local.split(".")
        if any(not p or any(c not in _ATEXT for c in p) for p in parts):
            return False
    if domain.startswith("[") and domain.endswith("]"):
        inner = domain[1:-1]
        if inner.lower().startswith("ipv6:"):
            return _check_ipv6(inner[5:])
        return bool(_IPV4_RE.match(inner))
    return bool(_HOSTNAME_RE.match(domain))


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*$")
_URI_CHARS = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
                 "0123456789-._~:/?#[]@!$&'()*+,;=%")
_PCT_RE = re.compile(r"%(?![0-9A-Fa-f]{2})")


def _uri_chars_ok(s: str) -> bool:
    return all(c in _URI_CHARS for c in s) and not _PCT_RE.search(s)


def _check_uri_reference(s: str) -> bool:
    if not _uri_chars_ok(s):
        return False
    # '[' / ']' only legal inside an IP-literal authority
    no_frag = s.split("#", 1)[0]
    rest = no_frag.split("?", 1)[0]
    if "[" in rest or "]" in rest:
        if "//" not in s:
            return False
    return True


def _check_uri(s: str) -> bool:
    head = s.split(":", 1)
    if len(head) != 2 or not _SCHEME_RE.match(head[0]):
        return False
    return _check_uri_reference(s)


_TPL_VAR_RE = re.compile(
    r"^(?:[+#./;?&=,!@|]?)(?:[A-Za-z0-9_%.]|%[0-9A-Fa-f]{2})+"
    r"(?::[1-9][0-9]{0,3}|\*)?"
    r"(?:,(?:[A-Za-z0-9_%.]|%[0-9A-Fa-f]{2})+(?::[1-9][0-9]{0,3}|\*)?)*$")


# what RFC 6570 §2.1 excludes from a literal: CTL, SP, '"', "'", '<',
# '>', '\\', '^', '`', '|', and a '%' that starts no pct-encoded triplet
_TPL_BAD_LIT_RE = re.compile(r"[\x00-\x20\x7f\"'<>\\^`|]|%(?![0-9A-Fa-f]{2})")


def _check_uri_template(s: str) -> bool:
    # brace balancing + expression grammar (boon src/formats.rs:809-838)
    i = 0
    while i < len(s):
        c = s[i]
        if c == "}" or _TPL_BAD_LIT_RE.match(s, i):
            return False
        if c == "{":
            j = s.find("}", i)
            if j < 0 or "{" in s[i + 1:j]:
                return False
            if not _TPL_VAR_RE.match(s[i + 1:j]):
                return False
            i = j + 1
        else:
            i += 1
    return True


def _check_regex_fmt(s: str) -> bool:
    try:
        re.compile(s)
        return True
    except re.error:
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
        return _check_email(s)
    return _check_idn_hostname(s[at + 1:])


_PY_CHECKERS: dict[str, Callable[[str], bool]] = {
    "ipv6": _check_ipv6,
    "email": _check_email,
    "idn-email": _check_idn_email,
    "idn-hostname": _check_idn_hostname,
    "uri": _check_uri,
    "iri": _check_uri,                       # IRI ⊇ URI; unicode allowed
    "uri-reference": _check_uri_reference,
    "iri-reference": _check_uri_reference,
    "uri-template": _check_uri_template,
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


# IRI / iri-reference allow unicode beyond the URI charset — widen.
def _iri_wrap(base: Callable[[str], bool]) -> Callable[[str], bool]:
    def check(s: str) -> bool:
        ascii_fold = "".join(c if ord(c) < 128 else "a" for c in s)
        return base(ascii_fold)
    return check


_PY_CHECKERS["iri"] = _iri_wrap(_check_uri)
_PY_CHECKERS["iri-reference"] = _iri_wrap(_check_uri_reference)


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
        from ..errors import CompileError
        raise CompileError(
            f"unknown format {name!r}; register_format() it first")
    return FORMATS[name]
