"""Highlight snippets: the best query-term window of each top-k document.

The reference service returns raw answer strings from its MRC head
(reference: modules/mrc_service/service.py answer payloads); a fulltext
tier without an MRC head serves the standard substitute — for each hit,
the contiguous ``window``-token span containing the most query-term
occurrences (Lucene's unified highlighter default, minus markup). This
module computes it Spark-first over the shared analyzer surface:

* rank the docs with the repo's BM25 top-k (same tie-break) and collect
  the hits — top-k is tiny by construction, and the BM25 plan then runs
  once, not once per consumer,
* restrict token positions to the hit docs (an ``isin`` filter on the
  collected ids),
* count query-term occurrences per candidate window with ONE range-frame
  window aggregate over the occurrence rows only (never one row per
  token of the doc: pruning to query-term occurrences first means the
  frame scan is O(occurrences), not O(doc length)),
* pick the max-count window (ties → earliest), clamp to doc start, and
  slice the doc's token array for the snippet text.

Scale posture (10^12 docs): everything after the BM25 stage touches only
``top_k`` documents; the occurrence scan prunes on a broadcast hash of
those ids, so snippet extraction adds one narrow scan + one tiny window
aggregate regardless of corpus size; the returned plan joins the
snippets to the local hit rows and holds no BM25 subtree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K
from ..functions.analyzer import analyze
from .bm25 import bm25_brute_force
from .positional import _checked_terms, token_positions


def highlight_topk(
    docs: DataFrame,
    question: str,
    window: int = 10,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """``(doc_id, score, snippet)`` for the BM25 top-k: ``snippet`` is
    the ``window``-token span with the most query-term occurrences
    (count desc, then earliest start — deterministic), rendered from the
    ANALYZED token stream (lowercased, punctuation stripped) so the
    snippet text round-trips exactly through the DuckDB twin."""
    if window < 1:
        raise ValueError("window must be >= 1")
    qterms = sorted(set(analyze(question)))
    spark = docs.sparkSession
    bm25 = bm25_brute_force(docs, question, top_k, id_col, text_col, k1, b)
    hit_rows = bm25.collect()
    if not hit_rows:
        return spark.createDataFrame([], "doc_id long, score double, snippet string")
    hits = spark.createDataFrame(hit_rows, bm25.schema)

    # filter the RAW docs to the hit ids before any tokenize/posexplode:
    # the snippet scans re-tokenize only top_k docs, not the corpus
    hit_docs = docs.filter(F.col(id_col).isin([r["doc_id"] for r in hit_rows]))
    occ = token_positions(hit_docs, id_col, text_col).filter(
        F.col("term").isin(qterms)
    )

    # occurrences of query terms in (pos - window + 1, ..., pos]: a RANGE
    # frame over pos values counts neighbors even though non-query tokens
    # have no rows
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rangeBetween(-(window - 1), Window.currentRow)
    )
    scored_ends = occ.select(
        "doc_id", "pos", F.count(F.lit(1)).over(frame).alias("cnt")
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("pos"))
    best = (
        scored_ends.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.greatest(F.col("pos") - F.lit(window - 1), F.lit(0)).alias("start0"),
        )
    )

    from ..functions.analyzer import tokenize_expr

    toks = hit_docs.select(
        F.col(id_col).alias("doc_id"), tokenize_expr(text_col).alias("toks")
    )
    snip = (
        toks.join(best, "doc_id")
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice("toks", F.col("start0") + 1, F.lit(window))
            ).alias("snippet"),
        )
    )
    return (
        hits.join(snip, "doc_id", "left")
        .select("doc_id", "score", F.coalesce("snippet", F.lit("")).alias("snippet"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def sql_highlight_topk(
    question: str,
    window: int = 10,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`highlight_topk` — identical window framing
    (DuckDB positions are 1-based from generate_subscripts; the clamp
    and slice arithmetic shift accordingly, spans are the same tokens)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    qterms = _checked_terms(sorted(set(analyze(question))))
    if not qterms:
        return (
            f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score,"
            f" CAST(NULL AS VARCHAR) AS snippet FROM {table} WHERE 1=0"
        )
    terms_sql = ", ".join(f"'{t}'" for t in qterms)
    return f"""
WITH tokarr AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9가-힣]+') AS toks
  FROM {table}
),
toks AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
  FROM tokarr
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(toks) AS doc_len FROM tokarr),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({terms_sql}) GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.doc_len / stats.avgdl)) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
hits AS (
  SELECT doc_id, round(sum(c), {round_to}) AS score, sum(c) AS raw
  FROM contrib GROUP BY doc_id
  ORDER BY sum(c) DESC, doc_id ASC
  LIMIT {top_k}
),
occ AS (
  SELECT t.doc_id, t.pos FROM toks t
  JOIN hits h ON t.doc_id = h.doc_id
  WHERE t.term IN ({terms_sql})
),
ends AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        RANGE BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS cnt
  FROM occ
),
best AS (
  SELECT doc_id, greatest(pos - {window - 1}, 1) AS start1
  FROM (SELECT doc_id, pos, cnt,
               row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, pos ASC) AS rn
        FROM ends)
  WHERE rn = 1
)
SELECT h.doc_id, h.score,
       coalesce(array_to_string(ta.toks[b.start1 : b.start1 + {window} - 1], ' '), '') AS snippet
FROM hits h
LEFT JOIN best b ON h.doc_id = b.doc_id
LEFT JOIN tokarr ta ON h.doc_id = ta.doc_id
ORDER BY h.raw DESC, h.doc_id ASC
"""
