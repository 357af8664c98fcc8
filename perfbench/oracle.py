"""Expected outputs, computed without the engine.

- Chat answers: DuckDB over the generated articles, written to parquet.
  A question about an entity is answered from the paragraphs that contain
  its canonical name. Names occur only in paragraphs short enough to pass
  through the chunker unchanged, so each such paragraph is one chunk.
- Ingest counts: Python sets over the generated articles; the quarantine's
  rows counted by DuckDB.
- Catalog entries: each entry's ``oracle_sql`` run by DuckDB over the same
  parquet tables, compared as a hash of canonicalized rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

from inputs import Article, Question


def write_articles(articles: list[Article], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "url": [a.url for a in articles],
            "title": [a.title for a in articles],
            "publishing_date": pa.array([a.publishing_date for a in articles], pa.timestamp("us")),
            "source_name": [a.source_name for a in articles],
            "paragraphs": [a.paragraphs() for a in articles],
        }
    )
    pq.write_table(table, path)


_ANSWER_SQL = {
    "date_of_title": "SELECT publishing_date FROM articles WHERE title = $1 ORDER BY 1",
    "titles_about": "SELECT DISTINCT title FROM paras WHERE contains(text, $1) ORDER BY 1 LIMIT 5",
    "sources_mentioning": "SELECT count(DISTINCT source_name) FROM paras WHERE contains(text, $1)",
    "said_about": "SELECT DISTINCT text FROM paras WHERE contains(text, $1) ORDER BY 1 LIMIT 10",
}


class ChatOracle:
    """Expected chat answers over the articles in the store: the base
    corpus (``articles_parquet``) plus whatever ``add`` delivers."""

    def __init__(self, articles_parquet: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE articles AS SELECT * FROM read_parquet('{articles_parquet}')"
        )
        self.con.execute(
            "CREATE TABLE paras AS SELECT title, source_name, unnest(paragraphs) AS text FROM articles"
        )
        self.urls = {r[0] for r in self.con.execute("SELECT url FROM articles").fetchall()}
        self.cache: dict[tuple[str, str], list[tuple]] = {}

    def add(self, articles: list[Article]) -> None:
        """Deliver valid articles; a url already present changes nothing."""
        for a in articles:
            if not a.valid or a.url in self.urls:
                continue
            self.urls.add(a.url)
            self.con.execute(
                "INSERT INTO articles VALUES (?, ?, ?, ?, ?)",
                [a.url, a.title, a.publishing_date, a.source_name, a.paragraphs()],
            )
            self.con.executemany(
                "INSERT INTO paras VALUES (?, ?, ?)",
                [[a.title, a.source_name, p] for p in a.paragraphs()],
            )
            self.cache.clear()

    def expected(self, q: Question) -> list[tuple]:
        key = (q.shape, q.target)
        if key not in self.cache:
            self.cache[key] = [tuple(r) for r in self.con.execute(_ANSWER_SQL[q.shape], [q.target]).fetchall()]
        return self.cache[key]

    def close(self) -> None:
        self.con.close()


def parquet_rows(path: str) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
    finally:
        con.close()


def rows_of(records: list[dict]) -> list[tuple]:
    return [tuple(r.values()) for r in records]


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark struct
        return _cell(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _cell(v.tolist())
    if hasattr(v, "item"):
        return _cell(v.item())
    return str(v)


def rows_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    rendered cell by cell and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class CatalogOracle:
    def __init__(self, sf_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def result_hash(self, sql: str) -> tuple[str, int]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = [tuple(r) for r in cur.fetchall()]
        return rows_hash(cols, rows), len(rows)

    def close(self) -> None:
        self.con.close()
