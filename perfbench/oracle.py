"""Answer checks against DuckDB, outside every timed region.

BM25 top-k answers are compared with the repository's DuckDB BM25 SQL
(``__spark_entry__._bm25_sql``, the oracle of the ``fts_bm25_topk``
gate) over the same documents.  The index's content is compared with a
signature computed from the documents alone: per analyzed term of the
``text`` field, its document frequency.
"""

from __future__ import annotations

import hashlib
import os

SCORE_TOL = 1e-6


class Oracle:
    def __init__(self, corpus_dir: str, work: str, adds: list[tuple[int, str]]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
        self.con.execute(
            "CREATE TABLE documents AS SELECT "
            "(row_number() OVER (ORDER BY conv_id, turn_idx) - 1)::BIGINT AS doc_id, text "
            f"FROM read_parquet('{corpus_dir}/*.parquet')"
        )
        if adds:
            self.con.executemany("INSERT INTO documents VALUES (?, ?)", adds)

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        from __spark_entry__ import _bm25_sql

        terms = [t for t in query.strip(" ").lower().split(" ") if t]
        return [(int(d), float(s)) for d, s in self.con.execute(_bm25_sql(terms, k)).fetchall()]

    def content_signature(self) -> str:
        rows = self.con.execute(
            "WITH d AS (SELECT doc_id, lower(trim(text)) AS n FROM documents), "
            "t AS (SELECT doc_id, unnest(string_split(n, ' ')) AS term FROM d "
            "      UNION SELECT doc_id, n FROM d WHERE len(string_split(n, ' ')) > 1) "
            "SELECT term, count(*) FROM t GROUP BY term"
        ).fetchall()
        return signature(rows)


def signature(rows) -> str:
    h = hashlib.sha256()
    for term, df in sorted((str(t), int(d)) for t, d in rows):
        h.update(f"{term}\x00{df}\n".encode())
    return h.hexdigest()


def index_signature(index_dir: str) -> str:
    """The same signature read from the index's own terms table."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "terms"), format="parquet", partitioning="hive").to_table(
        columns=["field", "term", "df"]
    )
    t = t.filter(pc.equal(t["field"], "text"))
    return signature(zip(t["term"].to_pylist(), t["df"].to_pylist()))


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> bool:
    """Rank-order equality of doc ids with scores within SCORE_TOL.
    ``want`` is the oracle's top k+1.  The oracle rounds scores to 6
    places, so it cannot order documents whose rounded scores tie:
    within such a run only the set of ids must match, and a run that
    the cut at k splits is checked on scores alone."""
    if len(got) != min(k, len(want)):
        return False
    if any(abs(g[1] - w[1]) > SCORE_TOL for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(got):
        j = i
        while j + 1 < len(want) and want[j + 1][1] == want[i][1]:
            j += 1
        if j < len(got) and {d for d, _ in got[i:j + 1]} != {d for d, _ in want[i:j + 1]}:
            return False
        i = j + 1
    return True
