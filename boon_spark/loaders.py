"""Resource-loader utilities — boon's loader module parity
(``src/loader.rs``): ``UrlLoader`` is just a callable ``uri -> document``
here (the ``loader=`` argument of :class:`~.schema.Compiler` /
``Engine.from_schema``); this module supplies the two concrete loaders
boon ships:

* :func:`file_loader` — boon ``FileLoader`` (loader.rs:28-43): resolves
  ``file://`` URIs (and plain paths) to parsed JSON/YAML documents;
* :func:`parse_document` — the one JSON/YAML document parser behind
  both loaders and the CLI's schema loading;
* :func:`scheme_loader` — boon ``SchemeUrlLoader`` (loader.rs:46-72):
  dispatches on the URI scheme to a registered loader, raising
  CompileError for unsupported schemes (boon UnsupportedUrlScheme).

The CLI wires its own combined file+http(s) loader
(:func:`boon_spark.cli.make_ref_loader`) on top of the same contract.
"""

from __future__ import annotations

import json
from typing import Callable

from .errors import CompileError

Loader = Callable[[str], object]


def file_loader(uri: str):
    """boon ``FileLoader``: load a ``file:`` URI (or bare path) as a
    JSON document; ``.yaml``/``.yml`` parse as YAML like the reference
    CLI's schema loading.  URI handling mirrors ``Url::to_file_path``:
    the path is percent-DECODED (a resolved URI keeps ``%20`` for
    spaces), the RFC 8089 forms ``file:/p``, ``file:///p`` and
    ``file://localhost/p`` all resolve, the scheme is case-insensitive,
    and a non-local authority is an error."""
    path = uri
    if uri[:5].lower() == "file:":
        from urllib.parse import unquote, urlparse
        p = urlparse(uri)
        if p.netloc not in ("", "localhost"):
            raise CompileError(
                f"file URI with non-local authority {p.netloc!r}: {uri!r}")
        path = unquote(p.path)
    with open(path, encoding="utf-8") as f:
        return parse_document(f.read(), path)


def parse_document(text: str, name: str):
    """``text`` as a JSON data-model document: YAML when ``name`` ends in
    ``.yaml``/``.yml`` (normalized by :func:`_yaml_jsonable`, so an
    unquoted date is the string a JSON source would hold), JSON
    otherwise."""
    if name.endswith((".yaml", ".yml")):
        import yaml
        return _yaml_jsonable(yaml.safe_load(text), name)
    return json.loads(text)


def _yaml_jsonable(v, location: str):
    """Normalize PyYAML's YAML-1.1 native scalars into the JSON data
    model: unquoted ISO dates/timestamps parse to datetime objects,
    which json.dumps rejects and which compare unequal to every string
    — render them as ISO-8601 strings, exactly what the reference's
    YAML 1.2 pipeline sees (so ``format: date`` and ``enum`` keep
    working).  Anything else non-JSON (e.g. ``!!binary``) fails loudly.
    (YAML-1.1 booleans like unquoted ``yes`` still parse to true — quote
    them in the source if a string is meant.)"""
    import datetime
    if isinstance(v, dict):
        return {str(k): _yaml_jsonable(x, location) for k, x in v.items()}
    if isinstance(v, list):
        return [_yaml_jsonable(x, location) for x in v]
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    raise ValueError(
        f"{location}: YAML value of type {type(v).__name__} has no JSON "
        f"equivalent (quote it as a string if that is what is meant)")


def scheme_loader(loaders: dict[str, Loader]) -> Loader:
    """boon ``SchemeUrlLoader``: one loader per URL scheme.

    >>> loader = scheme_loader({"file": file_loader, "https": my_http})
    >>> Engine.from_schema(doc, loader=loader)

    An unregistered scheme raises CompileError (boon's
    ``UnsupportedUrlScheme``) rather than silently failing resolution.
    """
    def load(uri: str):
        import re
        # RFC 3986 scheme (not a "://" probe — urn:/mailto: URIs have a
        # scheme but no authority and must NOT fall through to file)
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]+):", uri)
        scheme = m.group(1).lower() if m else "file"  # bare path
        # (single letters are technically schemes but in practice are
        # Windows drive letters — treated as bare paths)
        fn = loaders.get(scheme)
        if fn is None:
            raise CompileError(
                f"unsupported URL scheme {scheme!r} for {uri!r} "
                f"(registered: {sorted(loaders)})")
        return fn(uri)

    return load
