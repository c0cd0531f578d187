"""Sources: the deterministic synthetic sequences generator for the
input_hint table
``(doc_id string, tokens array<int32>, n_tok int32, source string)``,
its ``sources`` dimension, and the flagship constraint suite over it.

The generator is fully distributed: it builds rows from ``spark.range``
with per-row seeded arithmetic (xorshift-style mixing on the row index),
so the same (n, seed) always produces the same table at any parallelism —
no driver-side materialization, scales to any row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# synthetic sequences table (input_hint shape), deterministic, distributed
# ---------------------------------------------------------------------------

SOURCES = ["web", "books", "code", "wiki"]
# skewed categorical per FIXTURES.md: 80/15/4/1
_SOURCE_CUTS = [80, 95, 99, 100]


def synthetic_sequences(spark: SparkSession, n_rows: int, *, seed: int = 42,
                        vocab: int = 50257, max_len: int = 64,
                        partitions: int | None = None) -> DataFrame:
    """Deterministic sequences table with injected violations.

    Dirt injection (per FIXTURES.md §1): ~0.1% null doc_id, ~0.1%
    pattern-breaking doc_id, ~0.1% out-of-range token, ~0.1% n_tok
    mismatch, ~0.05% duplicated doc_id, ~0.1% unknown source.  All
    decisions are pure functions of (row index, seed) → reproducible at
    any parallelism and any scale; generation is one narrow ``select``
    over ``spark.range`` (no shuffle).
    """
    r = spark.range(0, n_rows, 1, partitions) if partitions else \
        spark.range(n_rows)
    i = F.col("id")

    def mix(salt: int, idx=None):
        # deterministic per-row pseudo-random 63-bit value
        return F.abs(F.xxhash64(i if idx is None else idx,
                                F.lit(seed), F.lit(salt)))

    def source_of(idx):
        pct = mix(1, idx) % 100
        s = (F.when(pct < _SOURCE_CUTS[0], F.lit("web"))
             .when(pct < _SOURCE_CUTS[1], F.lit("books"))
             .when(pct < _SOURCE_CUTS[2], F.lit("code"))
             .otherwise(F.lit("wiki")))
        # ~0.1% unknown source
        return F.when(mix(2, idx) % 1000 == 0,
                      F.lit("unknown-src")).otherwise(s)

    def doc_id_of(idx):
        d = F.concat(source_of(idx), F.lit("-"),
                     F.lpad(idx.cast("string"), 12, "0"))
        return F.when(mix(4, idx) % 1000 == 0, F.lit(None).cast("string")) \
            .otherwise(F.when(mix(5, idx) % 1000 == 1,
                              F.concat(F.lit("BAD ID "), idx.cast("string")))
                       .otherwise(d))

    source = source_of(i)
    # doc_id: "{source}-{i:012d}"; dupes copy the previous ROW's id —
    # everything (its source, its null/BAD corruption) derives from the
    # previous index, so the copy is a faithful duplicate (deriving only
    # the index but keeping the current row's source made ~35% of
    # injected "dupes" unique strings, silently undershooting the
    # documented dup rate)
    dup = (mix(3) % 2000 == 0) & (i > 0)
    base_i = F.when(dup, i - 1).otherwise(i)
    doc_id = doc_id_of(base_i)

    n = (mix(6) % max_len + 1).cast("int")
    # tokens: deterministic per (row, position); sequence expression is
    # evaluated entirely JVM-side
    tokens = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda p: (F.abs(F.xxhash64(i, p, F.lit(seed))) % vocab).cast("int"))
    # ~0.1% out-of-range token at position 0
    tokens = F.when(mix(7) % 1000 == 2,
                    F.concat(F.array(F.lit(vocab + 7).cast("int")),
                             F.slice(tokens, 2, 10000))).otherwise(tokens)
    # ~0.1% n_tok mismatch
    n_tok = F.when(mix(8) % 1000 == 3, (n + 5).cast("int")).otherwise(n)

    return r.select(
        doc_id.alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        source.alias("source"))


def sources_dim(spark: SparkSession) -> DataFrame:
    rows = [(s, w) for s, w in zip(SOURCES, [0.8, 0.15, 0.04, 0.01])]
    return spark.createDataFrame(rows, "source string, weight double")


def sequences_spec(vocab: int = 50257, max_n_tok: int = 8192) -> dict:
    """The flagship constraint suite over the input_hint table
    (BASELINE.json north_star)."""
    return {
        "schema": {
            "type": "object",
            "required": ["doc_id", "tokens", "n_tok", "source"],
            "properties": {
                "doc_id": {"type": "string",
                           "pattern": "^[a-z0-9-]+-[0-9]{12}$"},
                "tokens": {"type": "array", "minItems": 1,
                           "maxItems": max_n_tok,
                           "items": {"type": "integer", "minimum": 0,
                                     "exclusiveMaximum": vocab}},
                "n_tok": {"type": "integer", "minimum": 1,
                          "maximum": max_n_tok},
                "source": {"type": "string",
                           "enum": SOURCES},
            },
        },
        "unique": ["doc_id"],
        "references": [{"column": "source", "dim": "sources"}],
        "invariants": [{"name": "n_tok_matches_tokens",
                        "expr": "n_tok = size(tokens)"}],
    }
