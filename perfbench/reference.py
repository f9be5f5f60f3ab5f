"""DuckDB BM25 reference rankings for the ingest workload's query batches.

The SQL mirrors the engine's ``bm25_topk`` expression for expression (it is
the catalog's ``_bm25_oracle`` with the query terms supplied as a table), so
rankings must match exactly.  Computed once per input and cached as JSON.
"""

from __future__ import annotations

import json
import os

_SQL = """
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
    FROM documents
  ) WHERE t <> ''
),
postings AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
matched AS (
  SELECT p.* FROM postings p JOIN (SELECT DISTINCT term FROM qterms) q USING (term)
),
dft AS (SELECT term, count(*) AS df FROM matched GROUP BY term),
contrib AS (
  SELECT q.query_id, m.doc_id,
    ln(1.0::DOUBLE
       + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5::DOUBLE)
         / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE))
    * (CAST(m.tf AS DOUBLE) * {k1p1}::DOUBLE)
    / (CAST(m.tf AS DOUBLE)
       + {k1}::DOUBLE
         * (1.0::DOUBLE - {b}::DOUBLE
            + {b}::DOUBLE * CAST(l.dl AS DOUBLE) / s.avgdl)) AS contrib
  FROM matched m
  JOIN qterms q USING (term)
  JOIN dft d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, sum(contrib) AS score FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id ASC) AS "rank"
  FROM scores
)
SELECT query_id, doc_id, "rank" FROM ranked WHERE "rank" <= {k}
"""


def bm25_reference(
    path: str, load_docs, queries: list[tuple[str, str]], k: int
) -> dict[str, list[list]]:
    """{query_id: [[doc_id, rank], ...] in rank order}, cached at ``path``.

    ``load_docs()`` returns the corpus as a pandas frame (doc_id, text); it
    is called only when the cache is missing."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    import pandas as pd

    from mediachain_indexer_spark.operators.search import DEFAULT_B, DEFAULT_K1, tokenize_query

    qterms = pd.DataFrame(
        [(qid, t) for qid, text in queries for t in tokenize_query(text)],
        columns=["query_id", "term"],
    )
    sql = _SQL.format(k1p1=repr(DEFAULT_K1 + 1.0), k1=repr(DEFAULT_K1), b=repr(DEFAULT_B), k=k)
    con = duckdb.connect()
    try:
        con.register("documents", load_docs())
        con.register("qterms", qterms)
        rows = con.execute(sql + ' ORDER BY query_id, "rank"').fetchall()
    finally:
        con.close()
    ref: dict[str, list[list]] = {qid: [] for qid, _ in queries}
    for qid, doc, rank in rows:
        ref[qid].append([doc, int(rank)])
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref
