"""Format predicate registry — boon's 19 built-in ``format`` checkers
(reference ``src/formats.rs:24-48``) re-expressed Spark-first.

Design: every format is a function ``Column -> Column[boolean]``.  Formats
expressible as a single regex stay JVM-side (``rlike`` → whole-stage
codegen); the residue (calendar math, leap-second rules, ipv6 grammar,
URI grammar) runs as Arrow-batched pandas UDFs — never per-row Python
(input_hint mandate).  Applicability follows the reference
(``src/formats.rs:51-53``): format applies to strings only, non-strings and
NULLs pass — the plan builder enforces that, these predicates may assume
non-null string input.

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

_LABEL = r"[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
_JP_TOKEN = r"(?:[^~/]|~[01])*"

_REGEXES = {
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "ipv4": r"^(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
            r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$",
    "hostname": rf"^(?=.{{1,253}}$){_LABEL}(?:\.{_LABEL})*$",
    "json-pointer": rf"^(?:/{_JP_TOKEN})*$",
    "relative-json-pointer": rf"^(?:0|[1-9][0-9]*)(?:#|(?:/{_JP_TOKEN})*)$",
    # ISO8601 duration (RFC3339 appendix A grammar, no fractions —
    # matches boon src/formats.rs:230-288)
    "duration": r"^P(?:\d+W|(?=\d|T)(?:\d+Y)?(?:\d+M)?(?:\d+D)?"
                r"(?:T(?=\d)(?:\d+H)?(?:\d+M)?(?:\d+S)?)?)$",
}

# ---------------------------------------------------------------------------
# python checkers for the non-regex residue (vectorized via pandas UDF)
# ---------------------------------------------------------------------------

_DATE_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")
_TIME_RE = re.compile(
    r"^(\d{2}):(\d{2}):(\d{2})(?:\.\d+)?(?:([Zz])|([+-])(\d{2}):(\d{2}))$")

_DAYS = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]


def _leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


def _check_date(s: str) -> bool:
    # real calendar + leap years, matching boon src/formats.rs:73-124
    m = _DATE_RE.match(s)
    if not m:
        return False
    y, mo, d = int(m[1]), int(m[2]), int(m[3])
    if not (1 <= mo <= 12) or d < 1:
        return False
    days = 29 if (mo == 2 and _leap(y)) else _DAYS[mo - 1]
    return d <= days


def _check_time(s: str) -> bool:
    # RFC3339 full-time; leap second only at 23:59 UTC after applying
    # the offset, matching boon src/formats.rs:126-204
    m = _TIME_RE.match(s)
    if not m:
        return False
    h, mi, sec = int(m[1]), int(m[2]), int(m[3])
    if h > 23 or mi > 59 or sec > 60:
        return False
    if m[5]:  # numeric offset
        oh, om = int(m[6]), int(m[7])
        if oh > 23 or om > 59:
            return False
        off = (oh * 60 + om) * (1 if m[5] == "+" else -1)
    else:
        off = 0
    if sec == 60:
        utc_min = (h * 60 + mi - off) % 1440
        return utc_min == 23 * 60 + 59
    return True


def _check_datetime(s: str) -> bool:
    for t_char in ("T", "t"):
        if t_char in s:
            date_part, _, time_part = s.partition(t_char)
            return _check_date(date_part) and _check_time(time_part)
    return False


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


def _check_uri_template(s: str) -> bool:
    # brace balancing + expression grammar (boon src/formats.rs:809-838)
    i = 0
    while i < len(s):
        c = s[i]
        if c == "}":
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


def _check_period(s: str) -> bool:
    # RFC3339 period: start/end, start/duration, or duration/end
    # (boon src/formats.rs:290-321)
    if "/" not in s:
        return False
    a, _, b = s.partition("/")
    dur = re.compile(_REGEXES["duration"])
    a_ok = _check_datetime(a) or bool(dur.match(a))
    b_ok = _check_datetime(b) or bool(dur.match(b))
    if not (a_ok and b_ok):
        return False
    return not (dur.match(a) and dur.match(b))


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
    "date": _check_date,
    "time": _check_time,
    "date-time": _check_datetime,
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
    "period": _check_period,
}


def _vectorized(fn: Callable[[str], bool]) -> Callable[[Column], Column]:
    """Wrap an elementwise checker as an Arrow-batched pandas UDF."""

    def make(col: Column) -> Column:
        @pandas_udf("boolean")
        def _check(batch: pd.Series) -> pd.Series:
            return batch.map(lambda s: True if s is None else fn(s))
        return _check(col)

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
