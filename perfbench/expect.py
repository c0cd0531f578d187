"""Expected outputs computed by DuckDB over the same generated parquet.

The keyword table restates the ``sequences_spec()`` semantics the
engine implements (one ``/required`` unit per NULL property plus its
``type`` unit, one ``items`` unit per failing element), so a wrong
verdict, a lost violation row or a wrong count in the Spark output shows
up as a mismatch.

DuckDB runs in a child process (:class:`Checker`, serving this module's
functions) on one thread, so its buffers stay out of the memory the
benchmark samples for the program and it takes one core at most.
"""

from __future__ import annotations

import math
import pickle
import subprocess
import sys

from perfbench.inputs import SOURCES, VOCAB

_ENUM = ", ".join(f"'{s}'" for s in SOURCES)
_MAXN = 8192

# keyword_location -> per-row unit count (SQL over doc_id/tokens/n_tok/source)
KEYWORDS = {
    "/required": " + ".join(f"CAST({c} IS NULL AS BIGINT)" for c in
                            ("doc_id", "tokens", "n_tok", "source")),
    "/properties/doc_id/type": "CAST(doc_id IS NULL AS BIGINT)",
    "/properties/doc_id/pattern":
        "CAST(coalesce(NOT regexp_matches(doc_id, "
        "'^[a-z0-9-]+-[0-9]{12}$'), false) AS BIGINT)",
    "/properties/tokens/type": "CAST(tokens IS NULL AS BIGINT)",
    "/properties/tokens/minItems":
        "CAST(coalesce(len(tokens) < 1, false) AS BIGINT)",
    "/properties/tokens/maxItems":
        f"CAST(coalesce(len(tokens) > {_MAXN}, false) AS BIGINT)",
    "/properties/tokens/items/type":
        "coalesce(len(list_filter(tokens, x -> x IS NULL)), 0)",
    "/properties/tokens/items/minimum":
        "coalesce(len(list_filter(tokens, x -> x < 0)), 0)",
    "/properties/tokens/items/exclusiveMaximum":
        f"coalesce(len(list_filter(tokens, x -> x >= {VOCAB})), 0)",
    "/properties/n_tok/type": "CAST(n_tok IS NULL AS BIGINT)",
    "/properties/n_tok/minimum": "CAST(coalesce(n_tok < 1, false) AS BIGINT)",
    "/properties/n_tok/maximum":
        f"CAST(coalesce(n_tok > {_MAXN}, false) AS BIGINT)",
    "/properties/source/type": "CAST(source IS NULL AS BIGINT)",
    "/properties/source/enum":
        f"CAST(coalesce(source NOT IN ({_ENUM}), false) AS BIGINT)",
}


def _units_view(con, table_sql: str) -> None:
    cols = ", ".join(f'{sql} AS "{kw}"' for kw, sql in KEYWORDS.items())
    total = " + ".join(f'"{kw}"' for kw in KEYWORDS)
    con.execute(f"CREATE OR REPLACE VIEW units AS SELECT *, {total} AS n_units "
                f"FROM (SELECT *, {cols} FROM {table_sql})")


def partition_report(con, table_sql: str) -> dict:
    """Per-``day`` manifest metrics, per-(day, keyword) violation counts
    and the cross-row check counts of the dirty table."""
    _units_view(con, table_sql)
    metrics = {d: {"n_rows": n, "n_invalid": bad, "n_violations": int(u),
                   "valid": bad == 0}
               for d, n, bad, u in con.execute(
                   "SELECT day, count(*), count(*) FILTER (WHERE n_units > 0),"
                   " sum(n_units) FROM units GROUP BY day").fetchall()}
    sums = ", ".join(f'sum("{kw}")' for kw in KEYWORDS)
    per_kw = {}
    for row in con.execute(f"SELECT day, {sums} FROM units "
                           "GROUP BY day").fetchall():
        for kw, c in zip(KEYWORDS, row[1:]):
            if c:
                per_kw[(row[0], kw)] = int(c)
    cross = con.execute(f"""
        SELECT (SELECT count(*) FROM (SELECT doc_id FROM {table_sql}
                GROUP BY doc_id HAVING count(*) > 1)),
               (SELECT coalesce(sum(c), 0) FROM (SELECT count(*) c
                FROM {table_sql} GROUP BY doc_id HAVING count(*) > 1)),
               (SELECT count(*) FROM {table_sql}
                WHERE source IS NULL OR source NOT IN ({_ENUM})),
               (SELECT count(*) FROM {table_sql}
                WHERE NOT coalesce(n_tok = len(tokens), false))
    """).fetchone()
    return {"metrics": metrics, "per_keyword": per_kw,
            "unique_keys": cross[0], "unique_rows": int(cross[1]),
            "referential": cross[2], "invariant": cross[3]}


def written_violations(con, path: str) -> dict:
    """Per-(day, keyword) counts of a written violations table."""
    return {(d, kw): c for d, kw, c in con.execute(
        f"SELECT day, keyword_location, count(*) FROM read_parquet("
        f"'{path}/*/*.parquet', hive_partitioning = true) "
        f"GROUP BY ALL").fetchall()}


def fetchone(con, sql: str):
    return con.execute(sql).fetchone()


def curation(con, path: str, oracles: dict) -> dict:
    """Per query: sorted column names and normalised rows of its oracle
    SQL over the tables in ``path``."""
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{path}/{t}.parquet')")
    want = {}
    for q, sql in oracles.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        want[q] = (sorted(cols), norm_rows(cols, cur.fetchall()))
    return want


def norm_rows(cols: list[str], rows) -> list[tuple]:
    """Column-order- and row-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return repr(v)


class Checker:
    """A child process that runs this module's functions on its own
    DuckDB connection: ``checker.run("fetchone", sql)``, or
    ``reply = checker.submit(...)`` and later ``reply.get()`` so DuckDB
    works while Spark does."""

    def __init__(self, root: str):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.expect"], cwd=root,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self.pid = self.proc.pid
        self._pending: list[Reply] = []  # replies arrive in request order

    def run(self, name: str, *args):
        return self.submit(name, *args).get()

    def submit(self, name: str, *args) -> "Reply":
        pickle.dump((name, args), self.proc.stdin)
        self.proc.stdin.flush()
        reply = Reply(self)
        self._pending.append(reply)
        return reply

    def _read_next(self) -> None:
        self._pending.pop(0).result = pickle.load(self.proc.stdout)

    def close(self) -> None:
        self.proc.stdin.close()  # the child exits on EOF
        self.proc.wait()
        self.proc.stdout.close()


class Reply:
    def __init__(self, checker: Checker):
        self.checker = checker
        self.result = None

    def get(self):
        while self.result is None:
            self.checker._read_next()
        ok, value = self.result
        if not ok:
            raise RuntimeError(value)
        return value


def _serve() -> None:
    import duckdb
    # one thread, so the checker leaves the cores to Spark
    con = duckdb.connect(config={"threads": 1})
    stdin, stdout = sys.stdin.buffer, sys.stdout.buffer
    while True:
        try:
            name, args = pickle.load(stdin)
        except EOFError:
            return
        try:
            out = (True, globals()[name](con, *args))
        except Exception as e:  # reported to the caller as a failure
            out = (False, f"{name}: {type(e).__name__}: {e}")
        pickle.dump(out, stdout)
        stdout.flush()


if __name__ == "__main__":
    _serve()
