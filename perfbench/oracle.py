"""Independent replays of the workloads' results: DuckDB over the same
generated parquet, and exact numpy nearest-neighbour search.

Each replay restates the library's documented semantics in SQL rather
than reusing its code, so a wrong answer from the library cannot also
be the expected one.
"""

from __future__ import annotations

import duckdb
import numpy as np


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _any_contains(col: str, terms: list[str]) -> str:
    if not terms:
        return "FALSE"
    return "(" + " OR ".join(f"contains({col}, {_sql_str(t)})" for t in terms) + ")"


def _cleaned_sql(glob: str, cfg: dict) -> str:
    """Posts after the coarse keyword filter, noise filter and channel
    blacklist, with one boolean per industry."""
    flags = ", ".join(
        f"{_any_contains('text', kws)} AS f{i}"
        for i, kws in enumerate(cfg["industry_keywords"].values())
    )
    all_kw = [k for kws in cfg["industry_keywords"].values() for k in kws]
    black = ", ".join(_sql_str(c.lower()) for c in cfg["channel_blacklist"]) or "''"
    return f"""
        SELECT *, {flags} FROM read_parquet('{glob}')
        WHERE text IS NOT NULL AND {_any_contains('text', all_kw)}
          AND NOT {_any_contains('text', cfg['noise_terms'])}
          AND lower(source) NOT IN ({black})
    """


def keyword_report(glob: str, cfg: dict):
    """(industry_counts rows, keyword_breakdown rows) as Python tuples in
    the library's output order."""
    con = _connect()
    con.execute(f"CREATE TEMP TABLE c AS {_cleaned_sql(glob, cfg)}")
    industries = list(cfg["industry_keywords"])
    counts = con.execute(
        "SELECT " + ", ".join(f"count(*) FILTER (WHERE f{i})" for i in range(len(industries)))
        + " FROM c"
    ).fetchone()
    ic = sorted(zip(industries, [int(x) for x in counts]))
    parts = []
    for i, (ind, kws) in enumerate(cfg["industry_keywords"].items()):
        for kw in kws:
            parts.append(
                f"SELECT {_sql_str(ind)} AS industry, {_sql_str(kw)} AS keyword, "
                f"count(*) FILTER (WHERE f{i} AND contains(text, {_sql_str(kw)})) AS cnt FROM c"
            )
    kb = con.execute(
        "SELECT * FROM (" + " UNION ALL ".join(parts) + ") WHERE cnt > 0 "
        "ORDER BY industry, cnt DESC, keyword"
    ).fetchall()
    con.close()
    return ic, [(a, b, int(c)) for a, b, c in kb]


def slice_top(glob: str, cfg: dict, industry: str, lo, hi, k: int):
    """Top-k (doc_id, views) of one industry's posts in [lo, hi]."""
    con = _connect()
    kws = cfg["industry_keywords"][industry]
    rows = con.execute(
        f"""SELECT doc_id, views FROM read_parquet('{glob}')
            WHERE ts BETWEEN ? AND ? AND text IS NOT NULL AND {_any_contains('text', kws)}
            ORDER BY views DESC, doc_id ASC LIMIT {k}""",
        [lo, hi],
    ).fetchall()
    con.close()
    return [(int(a), int(b)) for a, b in rows]


def pii_rows(glob: str) -> int:
    """Rows whose text still matches an email, phone or IPv4 shape."""
    con = _connect()
    n = con.execute(
        f"""SELECT count(*) FROM read_parquet('{glob}')
            WHERE regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')
               OR regexp_matches(text, '\\b555-[0-9]{{4}}\\b')
               OR regexp_matches(text, '\\b([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')"""
    ).fetchone()[0]
    con.close()
    return int(n)


class BM25Replay:
    """Okapi BM25 over whitespace tokens of lower(trim(text)), the
    library's scoring formula and tie-break (score desc, id asc)."""

    def __init__(self, globs: list[str], k1: float = 1.2, b: float = 0.75):
        self.con = _connect()
        self.k1, self.b = k1, b
        src = " UNION ALL ".join(
            f"SELECT doc_id, text FROM read_parquet('{g}')" for g in globs
        )
        self.con.execute(
            f"""CREATE TEMP TABLE toks AS
                SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM ({src}) WHERE text IS NOT NULL"""
        )
        self.con.execute(
            "CREATE TEMP TABLE dl AS SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id"
        )
        self.con.execute(
            "CREATE TEMP TABLE tf AS SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY ALL"
        )
        self.n_docs, self.avgdl = self.con.execute(
            "SELECT count(*)::DOUBLE, avg(dl) FROM dl"
        ).fetchone()

    def search(self, terms: list[str], k: int):
        k1, b = self.k1, self.b
        in_list = ", ".join(_sql_str(t) for t in terms)
        rows = self.con.execute(
            f"""WITH q AS (SELECT * FROM tf WHERE token IN ({in_list})),
                idf AS (SELECT token, ln(1 + ({self.n_docs} - count(DISTINCT doc_id) + 0.5)
                                         / (count(DISTINCT doc_id) + 0.5)) AS idf
                        FROM q GROUP BY token)
                SELECT q.doc_id,
                       round(sum(CAST(idf.idf * (q.tf * ({k1} + 1))
                             / (q.tf + {k1} * (1 - {b} + {b} * dl.dl / {self.avgdl}))
                             AS DECIMAL(38, 18)))::DOUBLE, 6) AS score
                FROM q JOIN idf USING (token) JOIN dl USING (doc_id)
                GROUP BY q.doc_id ORDER BY score DESC, q.doc_id ASC LIMIT {k}"""
        ).fetchall()
        return [(int(a), float(s)) for a, s in rows]

    def close(self) -> None:
        self.con.close()


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 tol: float = 1e-6) -> bool:
    """Equal id order and scores within `tol`; ids whose scores tie
    (within `tol`) may appear in either order."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
    # compare id sets per score band, so float ties at the 6th decimal
    # cannot flip the verdict
    def bands(rows):
        out: dict[float, set[int]] = {}
        for i, s in rows:
            out.setdefault(round(s, 5), set()).add(i)
        return out

    return bands(got) == bands(want)


def exact_knn(X: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    """Exact top-k ids by cosine similarity."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    sims = Xn @ qn
    top = np.lexsort((ids, -sims))[:k]
    return [int(ids[i]) for i in top]
