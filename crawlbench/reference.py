"""Independent answers for the output checks, computed with DuckDB.

DuckDB reads the same parquet files the engine committed (found through
each table's `_manifest.json`) and the fixture's reference `text`
column; nothing here goes through Spark or the package.
"""

from __future__ import annotations

import glob
import json
import os
from typing import List


def committed_files(workdir: str, table: str) -> List[str]:
    """Parquet files of a LakeTable's manifest-committed epochs."""
    tdir = os.path.join(workdir, table)
    with open(os.path.join(tdir, "_manifest.json")) as f:
        epochs = json.load(f)["epochs"]
    return sorted(p for e in epochs
                  for p in glob.glob(os.path.join(tdir, f"epoch={e}",
                                                  "*.parquet")))


def connect():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _scan(files: List[str]) -> str:
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in files)
    return f"read_parquet([{quoted}], hive_partitioning = false)"


class Lake:
    """The committed `articles` and `sources` tables of one workdir,
    registered as DuckDB views `art` and `src` (one row per source id,
    first by url — the dim the CLI builds)."""

    def __init__(self, con, workdir: str):
        self.con = con
        con.execute("CREATE OR REPLACE TEMP VIEW art AS SELECT * FROM "
                    + _scan(committed_files(workdir, "articles")))
        con.execute(
            "CREATE OR REPLACE TEMP VIEW src AS SELECT id, name FROM ("
            " SELECT id, name, row_number() OVER (PARTITION BY id ORDER BY"
            " url) AS rn FROM " + _scan(committed_files(workdir, "sources"))
            + ") WHERE rn = 1")

    def crawl_check(self, fixture_dir: str) -> dict:
        """Stored urls and content against the fixture's reference text:
        ok iff every reference page is stored once with identical content
        and nothing else is stored."""
        pages = os.path.join(fixture_dir, "pages", "*.parquet")
        n_got, n_distinct, n_exp, n_match, content_bytes = self.con.execute(
            f"""WITH exp AS (SELECT url, text FROM read_parquet('{pages}')
                             WHERE text IS NOT NULL)
                SELECT (SELECT count(*) FROM art),
                       (SELECT count(DISTINCT url) FROM art),
                       (SELECT count(*) FROM exp),
                       (SELECT count(*) FROM art JOIN exp USING (url)
                        WHERE art.content IS NOT DISTINCT FROM exp.text),
                       (SELECT sum(strlen(content)) FROM art)""").fetchone()
        return {"stored": n_got, "distinct": n_distinct, "expected": n_exp,
                "matching": n_match, "content_bytes": int(content_bytes or 0),
                "ok": n_got == n_distinct == n_exp == n_match}

    def answer(self, kind: str, params: dict):
        """The result each query of the mix must return, in the shape
        `run.query_result` gives the Spark rows."""
        q = self.con.execute
        order = "ORDER BY a.published_date DESC NULLS LAST, a.url DESC"
        if kind == "search":
            kw = f"%{params['keyword']}%"
            return [tuple(r) for r in q(
                "SELECT a.url, s.name FROM art a JOIN src s"
                " ON a.source_id = s.id"
                " WHERE (a.title LIKE ? OR a.content LIKE ?)"
                " AND a.published_date >= ? AND a.published_date <= ? "
                + order + " LIMIT ?",
                [kw, kw, params["start_date"], params["end_date"],
                 params["limit"]]).fetchall()]
        if kind == "latest_with_source":
            return [tuple(r) for r in q(
                "SELECT a.url, s.name FROM art a JOIN src s"
                " ON a.source_id = s.id " + order + " LIMIT ?",
                [params["limit"]]).fetchall()]
        if kind == "count_by_source_name":
            return sorted(tuple(r) for r in q(
                "SELECT s.name, count(*) FROM art a JOIN src s"
                " ON a.source_id = s.id GROUP BY s.name").fetchall())
        if kind == "stats":
            return [tuple(q(
                "SELECT count(*), count(DISTINCT source_id),"
                " min(published_date), max(published_date) FROM art")
                .fetchone())]
        if kind == "count_total":
            return [tuple(q("SELECT count(*) FROM art").fetchone())]
        raise ValueError(kind)

    def table_rows(self, workdir: str, table: str, sql: str):
        """Run `sql` over a view `t` of another committed table."""
        self.con.execute("CREATE OR REPLACE TEMP VIEW t AS SELECT * FROM "
                         + _scan(committed_files(workdir, table)))
        return self.con.execute(sql).fetchall()
