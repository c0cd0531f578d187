"""The reference's compile-error suite (tests/invalid-schemas.json +
tests/invalid-schemas.rs): every schema with an ``errors`` entry must
fail schema COMPILATION with a loud CompileError (never a silent ignore
or a raw Python exception); the one entry without ``errors``
(optional $vocabulary) must compile cleanly.

boon's error taxonomy (InvalidJsonPointer / AnchorNotFound /
DuplicateId / UnsupportedVocabulary / ... — src/compiler.rs
CompileError) maps onto this engine's single CompileError type with
descriptive messages; the parity asserted here is WHICH schemas are
rejected, not the exact error wording.
"""

import json
import os

import pytest

from boon_spark.errors import CompileError
from boon_spark.schema import compile_schema

SUITE = "/root/reference/tests/invalid-schemas.json"

if not os.path.exists(SUITE):
    pytest.skip(
        "the reference checkout's invalid-schemas.json is absent; the "
        "suite runs unchanged wherever the checkout provides it",
        allow_module_level=True)

with open(SUITE) as f:
    CASES = json.load(f)


@pytest.mark.parametrize("case", CASES,
                         ids=[c["description"] for c in CASES])
def test_invalid_schema_case(case):
    resources = dict(case.get("remotes", {}))
    if "errors" in case:
        with pytest.raises(CompileError):
            compile_schema(case["schema"], resources=resources)
    else:
        compile_schema(case["schema"], resources=resources)
