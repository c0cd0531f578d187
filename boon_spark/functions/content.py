"""Content-encoding / media-type registries.

Mirrors boon's extension surface: ``register_content_encoding``
(reference ``src/compiler.rs:158-160``, example ``tests/examples.rs:
158-200``) and ``register_content_media_type`` (``src/compiler.rs:
168-170``, example ``tests/examples.rs:203-230``).  Built-ins match the
reference's: base64 (``src/content.rs:21-35``) and application/json
(``src/content.rs:63-82``).

An encoding entry maps a string Column to a decoded string Column that is
NULL when the input is not decodable; a media-type entry maps a string
Column to a boolean Column.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import bump_generation


def _decode_base64(col: Column) -> Column:
    return F.try_to_binary(col, F.lit("base64")).cast("string")


def _check_json(col: Column) -> Column:
    return F.try_parse_json(col).isNotNull()


ENCODINGS: dict[str, Callable[[Column], Column]] = {
    "base64": _decode_base64,
}

MEDIA_TYPES: dict[str, Callable[[Column], Column]] = {
    "application/json": _check_json,
}


def register_content_encoding(name: str,
                              decode: Callable[[Column], Column]) -> None:
    """``decode(col) -> Column[string]`` returning NULL for undecodable
    values (mirrors boon's Decoder contract)."""
    ENCODINGS[name.lower()] = decode
    bump_generation()


def register_content_media_type(name: str,
                                check: Callable[[Column], Column]) -> None:
    """``check(col) -> Column[boolean]`` (mirrors boon's MediaType
    contract)."""
    MEDIA_TYPES[name.lower()] = check
    bump_generation()
