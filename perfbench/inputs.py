"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, rows)``, written with numpy
and pyarrow (no Spark), so the same seed gives the same files on any
host.  The program under test only ever sees the written parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ("web", "books", "code", "wiki")
N_DAYS = 24


def write_dirty_sequences(path: str, rows: int, seed: int) -> None:
    """High-dirt sequences table partitioned on disk by ``day``.

    The clean table has the shape of ``synthetic_sequences``: doc ids
    ``{source}-{i:012d}``, sources web/books/code/wiki at 80/15/4/1 %,
    1-64 tokens below the vocabulary size, ``n_tok`` = token count, and
    its ~0.1 % faults (NULL and pattern-breaking ids, duplicated ids, an
    out-of-range first token, ``n_tok`` off by 5, unknown source).  It is
    generated here with numpy rather than with that function, so that it
    is written while the Spark session starts instead of by the
    session's first, slowest jobs.  The injector then makes about 22 %
    of rows fail one or more keywords, each fault an independent draw:

    ======================  ======  ====================================
    fault                   share   fails
    ======================  ======  ====================================
    out-of-range token      6 %     items/exclusiveMaximum or minimum
    bad doc_id pattern      5 %     pattern
    n_tok out of range      4 %     n_tok minimum/maximum + invariant
    empty tokens            3 %     minItems + n_tok mismatch invariant
    unknown source          3 %     enum + referential
    NULL source             2 %     required + type + referential
    n_tok mismatch          5 %     invariant only
    doc_id collision        2 %     unique
    ======================  ======  ====================================
    """
    rng = np.random.default_rng(seed)
    idx = np.arange(rows)

    def hit(share: float) -> np.ndarray:
        return rng.random(rows) < share

    # the clean table and synthetic_sequences' own faults
    src = np.array(SOURCES, dtype=object)[np.searchsorted(
        [80, 95, 99], rng.integers(0, 100, rows), side="right")]
    src[hit(0.001)] = "unknown-src"
    base = idx.copy()
    dup = hit(0.0005) & (idx > 0)
    base[dup] -= 1  # a duplicate copies the previous row's id
    doc = np.array([f"{s}-{b:012d}" for s, b in zip(src[base], base)],
                   dtype=object)
    doc[hit(0.001)] = None
    bad_id = hit(0.001)
    doc[bad_id] = [f"BAD ID {i}" for i in idx[bad_id]]
    n = rng.integers(1, 65, rows)
    n_tok = n.copy()
    n_tok[hit(0.001)] += 5

    # the injector
    empty = hit(0.03)
    lengths = np.where(empty, 0, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    values = rng.integers(0, VOCAB, offsets[-1]).astype(np.int32)
    first = hit(0.001) & ~empty
    values[offsets[:-1][first]] = VOCAB + 7
    last = hit(0.06) & ~empty
    values[offsets[1:][last] - 1] = np.where(
        rng.random(last.sum()) < 0.5, VOCAB + 3, -2)
    n_bad = hit(0.04)
    n_tok = np.where(n_bad, np.where(rng.random(rows) < 0.5, 0, 9000),
                     np.where(hit(0.05), n_tok + 3, n_tok))
    forum, no_src = hit(0.03), hit(0.02)
    src[forum] = "forum"
    src[no_src & ~forum] = None
    upper, collide = hit(0.05), hit(0.02)
    doc[upper] = [d.upper() if d else d for d in doc[upper]]
    pick = collide & ~upper
    doc[pick] = [f"web-{j:012d}" for j in rng.integers(0, rows, pick.sum())]

    table = pa.table({
        "doc_id": pa.array(doc, pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                           pa.array(values)),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(src, pa.string()),
    })
    day = rng.integers(0, N_DAYS, rows)
    for d in range(N_DAYS):
        out = os.path.join(path, f"day=d{d:02d}")
        os.makedirs(out)
        pq.write_table(table.take(np.flatnonzero(day == d)),
                       os.path.join(out, "part-0.parquet"))


# ---------------------------------------------------------------------------
# curation tables: the documents / embeddings / events the
# __spark_entry__ operator queries read, one single-file parquet each.
# Their shapes follow the repository's sf0.1 test tables: 10-100 words
# per document from a 30-word vocabulary, 5 % near duplicates (an
# earlier document plus one or two " dup" words), 20 sources; unit-norm
# 64-d Gaussian embeddings with 10 labels (plus 1 % near duplicates,
# which sf0.1 lacks, so embedding_near_dups returns pairs); events over
# 30 days, 1 500 users, five event types, exponential values with mean
# 50, 100 distinct JSON props.
# ---------------------------------------------------------------------------

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
DIM = 64


def write_curation_tables(out_dir: str, seed: int, docs: int,
                          vectors: int, events: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(docs):
        if i > 0 and rng.random() < 0.05:  # near duplicate
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": texts,
        "lang": list(rng.choice(LANGS, docs, p=LANG_P)),
        "source": [f"src{k}" for k in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    emb = rng.standard_normal((vectors, DIM))
    dups = np.flatnonzero(rng.random(vectors) < 0.01)
    for i in dups[dups > 0]:  # so embedding_near_dups has pairs to find
        emb[i] = emb[rng.integers(0, i)] + 0.05 * rng.standard_normal(DIM)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vectors), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, events))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, events), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, events)),
        "value": np.round(rng.exponential(50, events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    }), os.path.join(out_dir, "events.parquet"))


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))
