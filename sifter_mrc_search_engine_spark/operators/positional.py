"""Positional & structured query semantics: phrase, proximity, prefix, bool.

The reference's front door accepts only free-text questions and delegates
match semantics to its external engine's query DSL (reference:
modules/mrc_service/search_functions.py:82-97 builds a single
``bool/should`` match query). A production fulltext tier additionally
serves the standard structured query family — exact phrase, proximity
window, prefix expansion, boolean must/should/must_not — so this module
supplies them Spark-first over the SAME analyzer surface
(``functions.analyzer.tokenize_expr``) the index build uses, keeping the
rank-identity contract self-consistent.

Every operator here exists in two shapes:

* a **relational** form over the raw ``documents`` table (tokenize →
  match → BM25), which doubles as the DuckDB-oracle-checkable contract
  query and is the reference the serving kernel is pinned to, and
* an **index-served** form over a persisted positional index (delta+
  varbyte doc gaps AND within-doc position deltas, bucket-partitioned
  like the main index). It runs on the driver like the free-text WAND
  path: fetch the query terms' encoded rows (a preloaded dict, or one
  bucket- and term-pruned collect), decode with numpy, match with numpy
  twins of the relational matchers, and score with the shared numpy
  BM25 fold (:func:`operators.wand.bm25_fold_topk`).

Scale posture (10^12 docs): serving only ever touches postings of the
query's terms (bucket partition pruning + term row-group pruning), a few
KB per request; hot terms are doc_id-range segmented exactly like the
main index so one Zipf-head term cannot pin a single build task. Every
score sums per-term contributions in ascending-term float64 order, the
fold :mod:`operators.bm25` pins.
"""

from __future__ import annotations

import json
import re
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K
from ..functions import fsio
from ..functions.analyzer import analyze
from ..functions.xxhash import term_bucket
from .bm25 import bm25_term_scores, sum_in_term_order
from .compressed_index import (
    DEFAULT_PRELOAD_BUDGET_BYTES,
    _load_norms,
    check_preload_budget,
    read_bucketed,
    write_doclens,
)
from .index_build import corpus_stats, doc_lengths, term_bucket_expr, term_frequencies
from .postings_codec import varbyte_decode, varbyte_encode
from .wand import bm25_fold_topk

#: tokens produced by the analyzer ([a-z0-9가-힣]+) contain no SQL LIKE
#: metacharacters or quotes, so they embed directly into oracle strings;
#: enforced before any interpolation.
_TOKEN_OK = re.compile(r"[a-z0-9가-힣]+\Z")

TERM_BUCKETS_POS = 64  #: positional index is sparser than the tf index


def _checked_terms(terms: Sequence[str]) -> list[str]:
    for t in terms:
        if not _TOKEN_OK.match(t):
            raise ValueError(f"not an analyzer token: {t!r}")
    return list(terms)


def token_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, pos, term)`` — one scan, JVM-side posexplode of the
    shared tokenize expression. ``pos`` is 0-based token index."""
    from ..functions.analyzer import tokenize_expr

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize_expr(text_col)).alias("pos", "term"),
    )


def phrase_terms(phrase: str) -> list[str]:
    """The analyzed token sequence of the phrase, in order (slots)."""
    return analyze(phrase)


# ---------------------------------------------------------------- phrase


def _anchor_match(occ: DataFrame, slots: Sequence[str], distinct: bool = True) -> DataFrame:
    """``(doc_id)`` where some anchor ``pos − slot`` is covered by ALL m
    slots — the consecutive-phrase condition. ``occ`` is
    ``(doc_id, pos, term)`` occurrence rows already pruned to the slot
    terms — the relational reference that the serving kernel's
    :func:`_phrase_docs` is pinned to. One shuffle on (doc_id, anchor);
    a token can serve multiple slots (repeated-word phrases like
    "a b a" work).

    Slot coverage is a ``bit_or`` of ``1 << slot`` — one plain
    HashAggregate; the r5 ``countDistinct(slot)`` expanded to a
    two-level aggregate with a SECOND full exchange of the anchor rows.
    Phrases beyond 63 slots fall back to the countDistinct shape (a
    64-bit mask cannot hold them; no analyzer emits such phrases, but
    the old domain is preserved).

    ``distinct=False`` skips the trailing doc_id dedup for consumers
    that feed a left-semi join, where duplicates are free but the extra
    exchange is not."""
    slots_df = occ.sparkSession.createDataFrame(
        list(enumerate(slots)), "slot int, term string"
    )
    anchors = occ.join(F.broadcast(slots_df), "term").select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("anchor"), "slot"
    )
    if len(slots) <= 63:
        full_mask = (1 << len(slots)) - 1
        matched = (
            anchors.groupBy("doc_id", "anchor")
            .agg(
                F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), slot)")).alias("_mask")
            )
            .filter(F.col("_mask") == full_mask)
            .select("doc_id")
        )
    else:  # pragma: no cover - no analyzer emits 64-term phrases
        matched = (
            anchors.groupBy("doc_id", "anchor")
            .agg(F.countDistinct("slot").alias("ns"))
            .filter(F.col("ns") == len(slots))
            .select("doc_id")
        )
    return matched.distinct() if distinct else matched


def phrase_match_ids(
    docs: DataFrame, phrase: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id)`` of documents containing the analyzed phrase as
    CONSECUTIVE tokens (anchor trick — see :func:`_anchor_match`)."""
    slots = phrase_terms(phrase)
    if not slots:
        return docs.sparkSession.createDataFrame([], "doc_id long")
    pos = token_positions(docs, id_col, text_col).filter(
        F.col("term").isin(sorted(set(slots)))
    )
    return _anchor_match(pos, slots)


def _restricted_topk(
    docs: DataFrame,
    match_ids: DataFrame,
    score_terms: Sequence[str],
    top_k: int,
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 over ``score_terms`` restricted (left-semi) to ``match_ids``.

    Corpus stats and df come from the FULL corpus — a match filter never
    changes collection statistics (standard engine semantics; the DuckDB
    twins mirror this)."""
    spark = docs.sparkSession
    if not score_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    tf = term_frequencies(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)
    contribs = bm25_term_scores(tf, dl, stats, score_terms, k1, b)
    scored = sum_in_term_order(
        contribs.join(match_ids, "doc_id", "left_semi")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def phrase_topk(
    docs: DataFrame,
    phrase: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k ``(doc_id, score)``: BM25 over the phrase's distinct terms,
    restricted to documents containing the exact consecutive phrase.
    Tie-break (score desc, doc_id asc) like every scorer in the repo."""
    return _restricted_topk(
        docs, phrase_match_ids(docs, phrase, id_col, text_col),
        sorted(set(phrase_terms(phrase))), top_k, id_col, text_col, k1, b,
    )


_DUCK_TOKS_SQL = (
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), "
    "'[a-z0-9가-힣]+')) AS term FROM {table}"
)


def _bm25_restricted_sql(
    score_terms: Sequence[str],
    match_cte: str,
    top_k: int,
    table: str,
    k1: float,
    b: float,
    round_to: int = 4,
) -> str:
    """Shared oracle skeleton: full-corpus BM25 stats, contribs over
    ``score_terms``, filtered to the doc_ids produced by ``match_cte``
    (a complete ``SELECT doc_id ...`` statement over {table})."""
    terms_sql = ", ".join(f"'{t}'" for t in _checked_terms(sorted(set(score_terms))))
    toks = _DUCK_TOKS_SQL.format(table=table)
    return f"""
WITH toks AS ({toks}),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS doc_len FROM {table}),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({terms_sql}) GROUP BY 1),
matched AS ({match_cte}),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.doc_len / stats.avgdl)) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({terms_sql})
    AND tf.doc_id IN (SELECT doc_id FROM matched)
)
SELECT doc_id, round(sum(c), {round_to}) AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id ASC
LIMIT {top_k}
"""


def sql_phrase_topk(
    phrase: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`phrase_topk` (and of
    :func:`phrase_topk_indexed` — same answer by construction).

    Phrase presence via space-joined token string containment: analyzer
    tokens are ``[a-z0-9가-힣]+`` (no LIKE metacharacters), so
    ``' t1 t2 ' IN ' '||join(toks)||' '`` is exact-boundary-safe."""
    slots = _checked_terms(phrase_terms(phrase))
    if not slots:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    needle = " " + " ".join(slots) + " "
    match = (
        "SELECT doc_id FROM (SELECT doc_id, ' ' || array_to_string("
        "regexp_extract_all(lower(text), '[a-z0-9가-힣]+'), ' ') || ' ' AS s "
        f"FROM {table}) WHERE position('{needle}' IN s) > 0"
    )
    return _bm25_restricted_sql(set(slots), match, top_k, table, k1, b)


# ------------------------------------------------------------- proximity


def _min_cover_match(
    occ: DataFrame, uterms: Sequence[str], window: int, distinct: bool = True
) -> DataFrame:
    """``(doc_id)`` where ALL ``uterms`` co-occur inside some span of
    ``window`` consecutive positions (unordered). ``occ`` is
    ``(doc_id, pos, term)`` rows pruned to the query terms — the
    relational reference that the serving kernel's :func:`_near_docs`
    is pinned to.

    Pure-Catalyst: over the doc's occurrences ordered by position,
    ``last_j`` = the latest preceding position of term j (running MAX
    window per term); at each occurrence the minimal covering span
    ending there is ``pos - least(last_1..last_m)``; match iff min span
    <= window - 1. No pandas UDF, no per-term m-way position join;
    ONE doc_id window shuffle."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lasts = [
        F.max(F.when(F.col("term") == t, F.col("pos"))).over(w).alias(f"_l{i}")
        for i, t in enumerate(uterms)
    ]
    lcols = [F.col(f"_l{i}") for i in range(len(uterms))]
    # least()/greatest() IGNORE nulls (Spark and DuckDB alike): a doc
    # missing a term entirely would otherwise "cover" with the terms it
    # has. Guard: the span is defined only once EVERY term has appeared.
    all_seen = lcols[0].isNotNull()
    for c in lcols[1:]:
        all_seen = all_seen & c.isNotNull()
    span = F.when(
        all_seen,
        F.col("pos") - (F.least(*lcols) if len(lcols) > 1 else lcols[0]),
    )
    spans = occ.select("doc_id", "pos", *lasts).select("doc_id", span.alias("span"))
    matched = spans.filter(F.col("span") <= window - 1).select("doc_id")
    # semi-join consumers (the top-k scorers) pass distinct=False: dups
    # are free there and the dedup exchange is not
    return matched.distinct() if distinct else matched


def near_match_ids(
    docs: DataFrame,
    terms: Sequence[str],
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id)`` of docs where ALL distinct ``terms`` co-occur inside
    some span of ``window`` consecutive token positions (unordered) —
    see :func:`_min_cover_match`."""
    uterms = sorted(set(terms))
    if window < 1:
        raise ValueError("window must be >= 1")
    if not uterms:
        return docs.sparkSession.createDataFrame([], "doc_id long")
    pos = token_positions(docs, id_col, text_col).filter(
        F.col("term").isin(uterms)
    )
    return _min_cover_match(pos, uterms, window)


def near_topk(
    docs: DataFrame,
    question: str,
    window: int,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k restricted to docs where all the question's analyzed
    terms co-occur within ``window`` consecutive tokens."""
    uterms = sorted(set(analyze(question)))
    return _restricted_topk(
        docs, near_match_ids(docs, uterms, window, id_col, text_col),
        uterms, top_k, id_col, text_col, k1, b,
    )


def sql_near_topk(
    question: str,
    window: int,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`near_topk` — the SAME running-max window
    formulation (positions are 1-based from generate_subscripts vs
    Spark's 0-based posexplode; spans are shift-invariant)."""
    uterms = _checked_terms(sorted(set(analyze(question))))
    if not uterms:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    terms_sql = ", ".join(f"'{t}'" for t in uterms)
    lasts = ",\n         ".join(
        f"max(CASE WHEN term = '{t}' THEN pos END) OVER "
        f"(PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS l{i}"
        for i, t in enumerate(uterms)
    )
    lnames = [f"l{i}" for i in range(len(uterms))]
    least = f"least({', '.join(lnames)})" if len(lnames) > 1 else lnames[0]
    # least() ignores NULLs in DuckDB too — same explicit all-seen guard
    # as the Spark side so a doc missing a term can never match
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in lnames)
    match = f"""
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, CASE WHEN {not_null} THEN pos - {least} END AS span FROM (
      SELECT doc_id, pos,
         {lasts}
      FROM (
        SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9가-힣]+') AS toks
              FROM {table})
      ) WHERE term IN ({terms_sql})
    )
  ) WHERE span <= {window - 1}
"""
    return _bm25_restricted_sql(uterms, match, top_k, table, k1, b)


def _ordered_chain_match(
    occ: DataFrame, slots: Sequence[str], window: int, distinct: bool = True
) -> DataFrame:
    """``(doc_id)`` where the slot terms appear IN ORDER at strictly
    increasing positions p1 < … < pm with pm − p1 ≤ window − 1. ``occ``
    is ``(doc_id, pos, term)`` rows pruned to the slot terms — the
    relational reference that the serving kernel's
    :func:`_ordered_docs` is pinned to.

    Greedy chain join, skew-safe at the physical level: each step joins
    on (doc_id, position-block) — candidate pn must lie in
    [p1, p1 + window − 1], which spans at most TWO blocks of width
    ``window``, so the join enumerates ≤ 2·window candidate pairs per
    chain row even on a page that repeats a term F times (O(F·window),
    never the O(F²) a doc_id-only join would evaluate before its range
    filter). After each step the state compacts to min(pn) per
    (doc_id, p1): the greedy exchange argument — a smaller prev admits
    a superset of continuations — makes keeping only the earliest
    next-position chain exact for existence, and bounds state to one
    row per first-slot occurrence."""

    def blk(c):
        return F.floor(c / F.lit(window)).cast("long")

    cur = (
        occ.filter(F.col("term") == slots[0])
        .select("doc_id", F.col("pos").alias("p1"))
        .withColumn("prev", F.col("p1"))
    )
    for t in slots[1:]:
        nxt = occ.filter(F.col("term") == t).select(
            "doc_id", blk(F.col("pos")).alias("blk"), F.col("pos").alias("pn")
        )
        cand = (
            cur.select(
                "doc_id",
                "p1",
                "prev",
                F.explode(
                    F.array(blk(F.col("p1")), blk(F.col("p1")) + F.lit(1))
                ).alias("blk"),
            )
            .join(nxt, ["doc_id", "blk"])
            .filter(
                (F.col("pn") > F.col("prev"))
                & (F.col("pn") <= F.col("p1") + F.lit(window - 1))
            )
        )
        cur = cand.groupBy("doc_id", "p1").agg(F.min("pn").alias("prev"))
    out = cur.select("doc_id")
    return out.distinct() if distinct else out


def ordered_near_match_ids(
    docs: DataFrame,
    slots: Sequence[str],
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id)`` of docs containing the slot terms IN ORDER within a
    span of ``window`` positions (phrase-with-slop: window = m + slop) —
    see :func:`_ordered_chain_match`."""
    slots = _checked_terms(slots)
    if window < len(slots):
        raise ValueError(f"window {window} < slot count {len(slots)}")
    if not slots:
        return docs.sparkSession.createDataFrame([], "doc_id long")
    pos = token_positions(docs, id_col, text_col).filter(
        F.col("term").isin(sorted(set(slots)))
    )
    return _ordered_chain_match(pos, slots, window)


def phrase_slop_topk(
    docs: DataFrame,
    phrase: str,
    slop: int = 0,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Ordered phrase-with-slop top-k: the analyzed phrase's tokens in
    order within a span of ``len(tokens) + slop`` positions, BM25-scored
    over the distinct tokens (slop=0 admits exactly the docs where the
    tokens appear in order with up to 0 extra tokens interleaved — i.e.
    the contiguous phrase)."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    slots = phrase_terms(phrase)
    if not slots:
        return docs.sparkSession.createDataFrame([], "doc_id long, score double")
    return _restricted_topk(
        docs,
        ordered_near_match_ids(docs, slots, len(slots) + slop, id_col, text_col),
        sorted(set(slots)), top_k, id_col, text_col, k1, b,
    )


def sql_phrase_slop_topk(
    phrase: str,
    slop: int = 0,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`phrase_slop_topk` — the same m-way
    range-bounded join over a positions CTE."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    slots = _checked_terms(phrase_terms(phrase))
    if not slots:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    window = len(slots) + slop
    joins = "\n    ".join(
        f"JOIN occ o{i} ON o{i}.doc_id = o0.doc_id AND o{i}.term = '{t}' "
        f"AND o{i}.pos > o{i - 1}.pos AND o{i}.pos <= o0.pos + {window - 1}"
        for i, t in enumerate(slots[1:], start=1)
    )
    match = f"""
  WITH occ AS (
    SELECT doc_id, pos, term FROM (
      SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9가-힣]+') AS toks
            FROM {table})
    ) WHERE term IN ({", ".join(f"'{t}'" for t in sorted(set(slots)))})
  )
  SELECT DISTINCT o0.doc_id FROM occ o0
    {joins}
  WHERE o0.term = '{slots[0]}'
"""
    return _bm25_restricted_sql(set(slots), match, top_k, table, k1, b)


# ---------------------------------------------------------------- prefix


def _expanded_topk(
    docs: DataFrame,
    term_pred,
    top_k: int,
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
    max_expansions: int | None,
) -> DataFrame:
    """Shared multi-term-rewrite scorer: every analyzer term satisfying
    ``term_pred`` (a Column predicate over ``term``) scores as its own
    BM25 query term with its own idf — the transparent rewrite behind
    prefix, wildcard, and fuzzy queries.

    ``max_expansions`` bounds the rewrite at web scale (a 1-char prefix
    over 10^12 docs expands to millions of terms, and dfreq below is
    broadcast): keeps the ``max_expansions`` HIGHEST-df expanded terms
    (ties broken term asc — deterministic, and df order keeps the terms
    that affect recall most, unlike Lucene's index-order truncation).
    ``None`` (default) is the exact transparent rewrite the DuckDB twins
    mirror."""
    if max_expansions is not None and max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    tf = term_frequencies(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)
    hits = tf.filter(term_pred)
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_expansions is not None:
        dfreq = dfreq.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions)
        hits = hits.join(F.broadcast(dfreq.select("term")), "term", "left_semi")
    joined = (
        hits.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    from .bm25 import bm25_contrib_expr

    contrib = bm25_contrib_expr(
        "tf", "df", "doc_len", F.col("n_docs"), F.col("avgdl"), k1, b
    )
    scored = sum_in_term_order(
        joined.select("doc_id", "term", contrib.alias("contrib"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def prefix_topk(
    docs: DataFrame,
    prefix: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """Prefix query via the transparent multi-term rewrite. The term
    filter is a ``startswith`` predicate, pushable to the scan; on the
    sorted compressed index it is a contiguous term range."""
    p = prefix.lower()
    if not _TOKEN_OK.match(p):
        raise ValueError(f"prefix must be a plain analyzer token: {prefix!r}")
    return _expanded_topk(
        docs, F.col("term").startswith(p), top_k, id_col, text_col, k1, b,
        max_expansions,
    )


#: wildcard patterns: analyzer-token chars plus '*' (any run) — '?'
#: (single char) deliberately excluded: the analyzer strips nothing that
#: would make it unambiguous, and LIKE '_' covers it if ever needed
_WILDCARD_OK = re.compile(r"[a-z0-9가-힣*]+\Z")


def wildcard_topk(
    docs: DataFrame,
    pattern: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """Wildcard query (``*`` = any run of token chars), the transparent
    rewrite: each matching vocabulary term scores with its own idf.
    Patterns are analyzer chars + ``*`` only, so the LIKE translation
    needs no escaping. A leading ``*`` forfeits the term-range prune
    (full-vocab match — same caveat as Lucene's leading wildcard)."""
    p = pattern.lower()
    if not _WILDCARD_OK.match(p) or set(p) == {"*"}:
        raise ValueError(f"pattern must be analyzer chars + '*': {pattern!r}")
    return _expanded_topk(
        docs, F.col("term").like(p.replace("*", "%")), top_k, id_col,
        text_col, k1, b, max_expansions,
    )


def fuzzy_topk(
    docs: DataFrame,
    term: str,
    max_edits: int = 1,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """Fuzzy term query: vocabulary terms within ``max_edits``
    CHARACTER-level Levenshtein edits of ``term``, transparent rewrite.
    The ``length(term)`` band is an implied prune Catalyst evaluates
    before the O(len²) edit distance.

    Expansion is SCRIPT-CONSISTENT: an all-Latin/digit query expands
    only over all-Latin/digit vocabulary terms, a Hangul-bearing query
    only over Hangul-bearing terms. Cross-script "near-misses" (e.g.
    ``ab`` ↔ ``가b``) are linguistic noise, and excluding them is also
    what lets the DuckDB twin be exact: DuckDB's ``levenshtein`` counts
    UTF-8 BYTES (가나→가다 = 2 there, 1 here), so parity holds on the
    single-byte script and the twin refuses Hangul queries outright."""
    q = term.lower()
    if not _TOKEN_OK.match(q):
        raise ValueError(f"fuzzy term must be a plain analyzer token: {term!r}")
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    return _expanded_topk(
        docs, _fuzzy_pred(q, max_edits), top_k, id_col, text_col, k1, b,
        max_expansions,
    )


_ASCII_TERM = re.compile(r"[a-z0-9]+\Z")
_HANGUL = re.compile("[가-힣]")


def _fuzzy_pred(q: str, max_edits: int):
    """The script-consistent fuzzy vocabulary predicate as a Column (the
    relational rewrite; the indexed scan's pruning filter, whose driver
    twin is :func:`_fuzzy_pick`). ``q`` pre-validated + lowercased."""
    ascii_q = bool(_ASCII_TERM.match(q))
    script = (
        F.col("term").rlike("^[a-z0-9]+$")
        if ascii_q
        else F.col("term").rlike("[가-힣]")
    )
    band = F.length("term").between(len(q) - max_edits, len(q) + max_edits)
    return script & band & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)


def _sql_expanded_topk(
    term_pred_sql: str,
    top_k: int,
    table: str,
    k1: float,
    b: float,
    round_to: int = 4,
) -> str:
    """Shared DuckDB twin of :func:`_expanded_topk`:
    ``term_pred_sql`` is a boolean SQL expression over ``term``. The
    contrib CTE needs no term filter of its own — the equi-join to
    ``dfreq`` (which holds exactly the expanded terms) restricts it."""
    toks = _DUCK_TOKS_SQL.format(table=table)
    return f"""
WITH toks AS ({toks}),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS doc_len FROM {table}),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf WHERE {term_pred_sql} GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.doc_len / stats.avgdl)) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)
SELECT doc_id, round(sum(c), {round_to}) AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id ASC
LIMIT {top_k}
"""


def sql_prefix_topk(
    prefix: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`prefix_topk` (``LIKE 'p%'`` term filter)."""
    p = prefix.lower()
    if not _TOKEN_OK.match(p):
        raise ValueError(f"prefix must be a plain analyzer token: {prefix!r}")
    return _sql_expanded_topk(f"term LIKE '{p}%'", top_k, table, k1, b, round_to)


def sql_wildcard_topk(
    pattern: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`wildcard_topk`."""
    p = pattern.lower()
    if not _WILDCARD_OK.match(p) or set(p) == {"*"}:
        raise ValueError(f"pattern must be analyzer chars + '*': {pattern!r}")
    return _sql_expanded_topk(
        f"term LIKE '{p.replace('*', '%')}'", top_k, table, k1, b, round_to
    )


def sql_fuzzy_topk(
    term: str,
    max_edits: int = 1,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`fuzzy_topk`. ASCII queries only: DuckDB's
    ``levenshtein`` counts UTF-8 bytes, so character-level parity is
    only guaranteed on the single-byte script; the engine's
    script-consistent expansion (all-Latin/digit terms for an ASCII
    query) makes the match exact there. Hangul queries are served by
    the engine but have no SQL twin — this raises rather than
    producing a silently-divergent oracle."""
    q = term.lower()
    if not re.match(r"[a-z0-9]+\Z", q):
        raise ValueError(
            f"fuzzy twin supports ASCII terms only (byte-based DuckDB "
            f"levenshtein): {term!r}"
        )
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    return _sql_expanded_topk(
        f"regexp_matches(term, '^[a-z0-9]+$') AND levenshtein(term, '{q}') <= {max_edits}",
        top_k, table, k1, b, round_to,
    )


# --------------------------------------------------------------- boolean


def _bool_clauses(must, should, must_not):
    """Analyze the three clause lists → (must_t, score_t, not_t)."""
    must_t = sorted({t for s in must for t in analyze(s)})
    should_t = sorted({t for s in should for t in analyze(s)})
    not_t = sorted({t for s in must_not for t in analyze(s)})
    return must_t, sorted(set(must_t) | set(should_t)), not_t


def _bool_match_ids(
    tf: DataFrame, must_t: Sequence[str], score_t: Sequence[str], not_t: Sequence[str]
) -> DataFrame:
    """``(doc_id)`` passing the boolean gates — the relational reference
    that the serving kernel's :func:`_bool_docs` is pinned to. ``tf`` is
    ``(doc_id, term)`` rows (extra columns fine) pre-pruned to the
    query's terms.

    All three clauses fold into a SINGLE doc_id aggregation (must-term
    count, any-excluded flag, any-score flag) instead of one subplan per
    clause + anti-join — Spark does not dedupe common subplans, so the
    per-clause shape re-scans the tokenized corpus once per clause."""
    nm = F.count_distinct(
        F.when(F.col("term").isin(must_t), F.col("term")) if must_t else F.lit(None)
    ).alias("nm")
    bad = F.max(
        F.when(F.col("term").isin(not_t), F.lit(1)) if not_t else F.lit(None).cast("int")
    ).alias("bad")
    has_s = F.max(F.when(F.col("term").isin(list(score_t)), F.lit(1))).alias("has_s")
    agg = tf.groupBy("doc_id").agg(nm, bad, has_s)
    gate = (F.col("nm") == len(must_t)) if must_t else (F.col("has_s") == 1)
    return agg.filter(gate & F.col("bad").isNull()).select("doc_id")


def bool_topk(
    docs: DataFrame,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Boolean retrieval: docs containing EVERY analyzed ``must`` term
    and NO ``must_not`` term, BM25-scored over must + should terms
    present (must_not contributes only the exclusion, like Lucene's
    bool query). Each clause entry is analyzed, so multi-word strings
    contribute all their tokens to the clause."""
    must_t, score_t, not_t = _bool_clauses(must, should, must_not)
    spark = docs.sparkSession
    if not score_t:
        return spark.createDataFrame([], "doc_id long, score double")
    all_t = sorted(set(score_t) | set(not_t))
    tf = term_frequencies(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)

    match = _bool_match_ids(tf.filter(F.col("term").isin(all_t)), must_t, score_t, not_t)
    contribs = bm25_term_scores(tf, dl, stats, score_t, k1, b)
    scored = sum_in_term_order(contribs.join(match, "doc_id", "left_semi"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def sql_bool_topk(
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bool_topk`."""
    must_t = _checked_terms(sorted({t for s in must for t in analyze(s)}))
    should_t = sorted({t for s in should for t in analyze(s)})
    not_t = _checked_terms(sorted({t for s in must_not for t in analyze(s)}))
    score_t = sorted(set(must_t) | set(should_t))
    if not score_t:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    if must_t:
        in_must = ", ".join(f"'{t}'" for t in must_t)
        match = (
            f"SELECT doc_id FROM tf WHERE term IN ({in_must}) "
            f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(must_t)}"
        )
    else:
        in_score = ", ".join(f"'{t}'" for t in _checked_terms(score_t))
        match = f"SELECT DISTINCT doc_id FROM tf WHERE term IN ({in_score})"
    if not_t:
        in_not = ", ".join(f"'{t}'" for t in not_t)
        match = (
            f"SELECT doc_id FROM ({match}) WHERE doc_id NOT IN "
            f"(SELECT DISTINCT doc_id FROM tf WHERE term IN ({in_not}))"
        )
    return _bm25_restricted_sql(score_t, match, top_k, table, k1, b)


# ----------------------------------------------------- positional index


POS_INDEX_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("bucket", LongType(), False),
        StructField("segment", LongType(), False),
        StructField("df", LongType(), False),
        StructField("n", LongType(), False),
        StructField("doc_gaps", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("poss", BinaryType(), False),
    ]
)

POS_SALT_THRESHOLD = 100_000  #: same role as the main index's threshold
POS_SALT_FANOUT = 32


def build_positional_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS_POS,
    salt_threshold: int = POS_SALT_THRESHOLD,
    salt_fanout: int = POS_SALT_FANOUT,
    hot: "tuple[list, int] | None" = None,
) -> DataFrame:
    """Positional postings: per (term, segment) row, doc_id deltas,
    per-doc position counts (== tf), and within-doc position deltas, all
    varbyte. ``df`` is the exact total across a term's segments (window
    sum, same recipe as the main index encoder).

    Hot terms are doc_id-range segmented (sampled Zipf-head detection
    like ``compressed_index.encode_tf``) so a head term's positions
    never serialize through one task; the serving kernel concatenates a
    term's segments in doc order, so segmentation is transparent to
    readers.
    """
    pos = token_positions(docs, id_col, text_col)

    if hot is None:
        from .compressed_index import sample_hot_terms

        # sample over (term, doc_id) pair counts — identical hot
        # decisions to sampling the grouped frame directly
        pairs = pos.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
        hot = sample_hot_terms(pairs, salt_threshold)
    hot_terms, max_doc_global = hot
    seg_range = max(1, (max_doc_global + 1 + salt_fanout - 1) // salt_fanout)
    if hot_terms:
        seg = F.when(
            F.col("term").isin(hot_terms),
            (F.col("doc_id") / F.lit(seg_range)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    else:
        seg = F.lit(0).cast("long")

    # ONE exchange of the raw (doc_id, pos) occurrences straight into
    # (term, segment) encoder groups: the per-doc position grouping and
    # the doc sort both happen inside the encoder as a vectorized numpy
    # lexsort + run-length — the r5 shape paid a (term, doc_id)
    # collect_list shuffle AND a (term, segment) regroup of the same
    # payload back to back
    grouped = pos.withColumn("segment", seg).groupBy("term", "segment").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("occs")
    )
    arrays = grouped.select(
        "term",
        "segment",
        F.transform("occs", lambda s: s["doc_id"]).alias("occ_ids"),
        F.transform("occs", lambda s: s["pos"]).alias("occ_pos"),
    )

    enc_type = StructType(
        [
            StructField("df_local", LongType(), False),
            StructField("n", LongType(), False),
            StructField("doc_gaps", BinaryType(), False),
            StructField("tfs", BinaryType(), False),
            StructField("poss", BinaryType(), False),
        ]
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(enc_type)
    def enc_udf(occ_ids: pd.Series, occ_pos: pd.Series) -> pd.DataFrame:
        out = []
        for ids, poss in zip(occ_ids, occ_pos):
            ids = np.asarray(ids, dtype=np.int64)
            poss = np.asarray(poss, dtype=np.int64)
            order = np.lexsort((poss, ids))
            ids, poss = ids[order], poss[order]
            uids, starts, counts = np.unique(
                ids, return_index=True, return_counts=True
            )
            gaps = np.diff(uids, prepend=np.int64(0))
            # within-doc deltas, first position of each doc absolute
            flat = poss.copy()
            flat[1:] -= poss[:-1]
            flat[starts] = poss[starts]
            out.append(
                (
                    int(uids.size),
                    int(uids.size),
                    varbyte_encode(gaps),
                    varbyte_encode(counts.astype(np.int64)),
                    varbyte_encode(flat),
                )
            )
        return pd.DataFrame(out, columns=["df_local", "n", "doc_gaps", "tfs", "poss"])

    encoded = arrays.select(
        "term",
        term_bucket_expr("term", buckets).alias("bucket"),
        "segment",
        enc_udf("occ_ids", "occ_pos").alias("e"),
    ).repartition("bucket")
    from pyspark.sql import Window

    # (bucket, term) window over the bucket partitioning adds NO
    # exchange (a term lives in one bucket) and the writer reuses the
    # same partitioning — two exchanges end to end vs the r5 four
    df_col = F.sum("e.df_local").over(Window.partitionBy("bucket", "term"))
    return encoded.select(
        "term",
        "bucket",
        F.col("segment").cast("long").alias("segment"),
        df_col.cast("long").alias("df"),
        F.col("e.n").alias("n"),
        F.col("e.doc_gaps").alias("doc_gaps"),
        F.col("e.tfs").alias("tfs"),
        F.col("e.poss").alias("poss"),
    )


def write_positional_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS_POS,
) -> dict:
    """Persist postings (bucket-partitioned, term-sorted in-file) + the
    doclens sidecar + stats.json — same layout contract as the main
    index dir so serving code treats both uniformly.

    The doclens sidecar and the Zipf-head salting sample are independent
    jobs — run concurrently (one thread each) so the sample's tasks
    back-fill the doclens job's tail, then encode+write once with the
    sampled hot set (same overlap recipe as build_index_resumable)."""
    from concurrent.futures import ThreadPoolExecutor

    from .compressed_index import sample_hot_terms

    per_doc_groups = token_positions(docs, id_col, text_col).groupBy(
        "term", "doc_id"
    ).agg(F.count(F.lit(1)).alias("tf"))
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hot = pool.submit(sample_hot_terms, per_doc_groups, POS_SALT_THRESHOLD)
        stats = write_doclens(docs, f"{path}/doclens", id_col, text_col)
        hot = f_hot.result()

    idx = build_positional_index(docs, id_col, text_col, buckets, hot=hot)
    (
        # already bucket-partitioned by the builder; bucket-led sort
        # keeps term-sorted row groups without a writer-added sort
        idx.sortWithinPartitions("bucket", "term", "segment")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    # the index dir is self-describing: serving reads the bucket count it
    # was WRITTEN with, so a caller can never prune with a mismatched
    # modulus (which would silently drop postings)
    stats = {**stats, "buckets": buckets}
    fsio.write_text(fsio.join(path, "stats.json"), json.dumps(stats), docs.sparkSession)
    return stats


# ------------------------------------------------ driver serving kernel
#
# Every *_indexed shape is served on the driver, the free-text path's
# shape (plans/query.py IndexSearcher + operators/wand.py): fetch the
# query terms' encoded rows, decode with numpy, match, fold BM25, top-k.
# A request's postings are a few KB; a Spark plan per request paid a
# pandas-UDF decode, a match shuffle and a doclens join for them.

#: encoded columns a fetch reads, in row-tuple order; ``poss`` (the
#: largest payload) is appended only for the shapes that match on
#: positions (phrase, slop, near)
_FETCH_COLS = ("term", "df", "n", "doc_gaps", "tfs")

def decode_positional_row(row, positions: bool = True):
    """numpy inverse of the positional encoder for one fetched row
    ``(term, df, n, doc_gaps, tfs[, poss])``: ``(doc_ids, tfs, pos)``
    where ``pos`` holds every occurrence's absolute position, doc-major
    and ascending within a doc (``None`` when ``positions=False`` — the
    ``poss`` payload is then never touched)."""
    n = int(row[2])
    ids = np.cumsum(varbyte_decode(row[3], count=n).astype(np.int64))
    tfs = varbyte_decode(row[4], count=n).astype(np.int64)
    if not positions:
        return ids, tfs, None
    # within-doc deltas with each doc's first position absolute: one
    # running sum, minus the running total where each doc starts
    flat = varbyte_decode(row[5], count=int(tfs.sum())).astype(np.int64)
    run = np.cumsum(flat)
    starts = np.cumsum(tfs) - tfs
    return ids, tfs, run - np.repeat(run[starts] - flat[starts], tfs)


def _index_buckets(index_dir: str, spark: SparkSession) -> int:
    """The bucket modulus the index dir was written with (stats.json is
    authoritative; pre-buckets-field dirs fall back to the default)."""
    stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
    return int(stats.get("buckets", TERM_BUCKETS_POS))


class PositionalPostings:
    """Driver-side access to a positional index for the serving kernel:
    the encoded rows of a term set or of a vocabulary predicate, plus
    the norms.

    ``preload=False`` (scan mode) runs ONE bucket- and term-pruned
    collect per fetch, over a relation built for that fetch: a rebuilt
    index at the same path is read as its new generation, never through
    a cached relation listing deleted files. ``preload=True`` collects
    every row into a term->rows dict once, with the norms, both charged
    against one :func:`check_preload_budget` (4 GiB default); a request
    then runs no Spark job at all."""

    def __init__(self, spark: SparkSession, index_dir: str, preload: bool = False):
        self.spark, self.index_dir = spark, index_dir
        self._mem: dict[str, list] | None = None
        self._norms = None
        if not preload:
            return
        self._mem = {}
        frame = self._frame(None)
        if frame is None:  # an empty index: no request ever needs norms
            return
        frame = frame.select(*_FETCH_COLS, "poss")
        spent = check_preload_budget(
            frame, f"positional postings of {index_dir}", DEFAULT_PRELOAD_BUDGET_BYTES
        )
        for r in self._collect(frame):
            self._mem.setdefault(r[0], []).append(r)
        self._norms = _load_norms(spark, index_dir, DEFAULT_PRELOAD_BUDGET_BYTES - spent)

    def norms(self):
        """``(doclen, n_docs, avgdl)`` from the shared norms cache (pinned
        at construction in preload mode)."""
        if self._norms is not None:
            return self._norms
        return _load_norms(self.spark, self.index_dir, DEFAULT_PRELOAD_BUDGET_BYTES)

    def rows(self, terms: Sequence[str], positions: bool = False) -> list[tuple]:
        """Encoded rows (every segment) of ``terms``. Bucket ids come from
        the driver-side xxhash twin, as in ``IndexSearcher``."""
        terms = sorted(set(terms))
        if self._mem is not None:
            return [r for t in terms for r in self._mem.get(t, ())]
        modulus = _index_buckets(self.index_dir, self.spark)
        bkts = sorted({term_bucket(t, modulus) for t in terms})
        frame = self._frame(bkts)
        if frame is None:
            return []
        cols = _FETCH_COLS + (("poss",) if positions else ())
        return self._collect(
            frame.filter(F.col("bucket").isin(bkts) & F.col("term").isin(terms))
            .select(*cols)
        )

    def vocab_rows(self, term_col, pick) -> list[tuple]:
        """Rows of every vocabulary term ``pick`` (a driver predicate over
        a term list, returning the admitted terms) admits. Scan mode
        prunes the scan with ``term_col``, the same predicate as a
        Column, and never reads positions."""
        if self._mem is not None:
            return [r for t in pick(list(self._mem)) for r in self._mem[t]]
        frame = self._frame(None)
        if frame is None:
            return []
        rows = self._collect(frame.filter(term_col).select(*_FETCH_COLS))
        keep = set(pick(sorted({r[0] for r in rows})))
        return [r for r in rows if r[0] in keep]

    def _frame(self, buckets: Sequence[int] | None) -> DataFrame | None:
        """The postings relation over the listed ``bucket=`` directories
        (all when ``buckets`` is None; None when none exist)."""
        return read_bucketed(
            self.spark, fsio.join(self.index_dir, "postings"), POS_INDEX_SCHEMA, buckets
        )

    @staticmethod
    def _collect(frame: DataFrame) -> list[tuple]:
        return [tuple(r) for r in frame.collect()]


def _decoded(rows, positions: bool) -> dict:
    """``term -> (df, doc_ids, tfs, pos)``, a hot term's segments (disjoint
    doc-id ranges) concatenated in doc order."""
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r[0], []).append((int(r[1]), *decode_positional_row(r, positions)))
    out = {}
    for t, segs in by_term.items():
        segs.sort(key=lambda s: int(s[1][0]))
        out[t] = (
            segs[0][0],
            np.concatenate([s[1] for s in segs]),
            np.concatenate([s[2] for s in segs]),
            np.concatenate([s[3] for s in segs]) if positions else None,
        )
    return out


def _common_docs(post: dict, terms) -> np.ndarray:
    """Sorted doc ids holding EVERY one of ``terms``."""
    out = None
    for t in set(terms):
        if t not in post:
            return np.zeros(0, dtype=np.int64)
        ids = post[t][1]
        out = ids if out is None else np.intersect1d(out, ids, assume_unique=True)
    return out


def _keyed(post: dict, term: str, docs: np.ndarray, width: int) -> np.ndarray:
    """``rank(doc) * width + pos`` for every occurrence of ``term`` in
    ``docs`` (sorted; docs must all hold the term) — one sortable int64
    per (doc, position), so the matchers below are searchsorted and
    set operations on flat arrays."""
    _, ids, tfs, pos = post[term]
    keep = np.isin(ids, docs, assume_unique=True)
    rank = np.repeat(np.searchsorted(docs, ids), tfs)
    return (rank * width + pos)[np.repeat(keep, tfs)]


def _width(post: dict, terms, pad: int = 0) -> int:
    return max(int(post[t][3].max()) for t in set(terms)) + pad + 1


def _phrase_docs(post: dict, slots: Sequence[str]) -> np.ndarray:
    """numpy twin of :func:`_anchor_match`: docs with an anchor ``a``
    such that slot ``i``'s term sits at ``a + i`` for every slot (a
    token may serve several slots). Keys are (doc, anchor) pairs,
    intersected slot by slot; anchors shift by ``m`` to stay positive."""
    docs = _common_docs(post, slots)
    if not docs.size:
        return docs
    m = len(slots)
    width = _width(post, slots, m)
    keys = None
    for i, t in enumerate(slots):
        k = _keyed(post, t, docs, width) + (m - i)
        keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
    return docs[np.unique(keys // width)]


def _ordered_docs(post: dict, slots: Sequence[str], window: int) -> np.ndarray:
    """numpy twin of :func:`_ordered_chain_match`: from every occurrence
    ``p1`` of the first slot, greedily take each next slot's EARLIEST
    occurrence after the previous one (exact for existence — a smaller
    prev admits a superset of continuations) while it stays within
    ``p1 + window - 1``."""
    docs = _common_docs(post, slots)
    if not docs.size:
        return docs
    width = _width(post, slots)
    first = _keyed(post, slots[0], docs, width)
    rank, p1 = first // width, first % width
    prev = p1
    for t in slots[1:]:
        keys = _keyed(post, t, docs, width)
        j = np.searchsorted(keys, rank * width + prev, side="right")
        nxt = keys[np.minimum(j, keys.size - 1)]
        ok = (j < keys.size) & (nxt // width == rank) & (nxt % width <= p1 + window - 1)
        rank, p1, prev = rank[ok], p1[ok], (nxt % width)[ok]
    return docs[np.unique(rank)]


def _near_docs(post: dict, uterms: Sequence[str], window: int) -> np.ndarray:
    """numpy twin of :func:`_min_cover_match`: at every occurrence, each
    term's latest occurrence at or before it; the doc matches when, with
    every term seen, the span back to the earliest of them is at most
    ``window - 1``."""
    docs = _common_docs(post, uterms)
    if not docs.size or len(uterms) == 1:
        return docs
    width = _width(post, uterms)
    keyed = [_keyed(post, t, docs, width) for t in uterms]
    ends = np.concatenate(keyed)
    rank = ends // width
    start = ends % width
    seen = np.ones(ends.size, dtype=bool)
    for keys in keyed:
        j = np.searchsorted(keys, ends, side="right") - 1
        last = keys[np.maximum(j, 0)]
        seen &= (j >= 0) & (last // width == rank)
        start = np.minimum(start, last % width)
    hit = seen & (ends % width - start <= window - 1)
    return docs[np.unique(rank[hit])]


def _bool_docs(post: dict, must_t, score_t, not_t) -> np.ndarray:
    """numpy twin of :func:`_bool_match_ids`: every must term (or, with
    none, any scored term) and no must_not term."""
    if must_t:
        docs = _common_docs(post, must_t)
    else:
        docs = np.unique(np.concatenate(
            [post[t][1] for t in score_t if t in post] or [np.zeros(0, np.int64)]
        ))
    bad = [post[t][1] for t in not_t if t in post]
    return np.setdiff1d(docs, np.concatenate(bad)) if bad else docs


def _score(src: PositionalPostings, post: dict, terms, docs, top_k, k1, b):
    """BM25 over ``terms`` restricted to ``docs`` (None: every posting),
    with the index's exact df, the norms and stats.json's corpus stats —
    the one scoring tail every shape funnels into."""
    parts = []
    for t in terms:
        if t in post:
            df, ids, tfs, _ = post[t]
            if docs is not None:
                keep = np.isin(ids, docs, assume_unique=True)
                ids, tfs = ids[keep], tfs[keep]
            parts.append((t, df, ids, tfs))
    if not any(p[2].size for p in parts):
        return []
    doclen, n_docs, avgdl = src.norms()
    return bm25_fold_topk(parts, doclen, n_docs, avgdl, top_k, k1, b)


def phrase_hits(src, phrase, top_k=DEFAULT_TOP_K, k1=BM25_K1, b=BM25_B):
    """``[(doc_id, score)]`` of :func:`phrase_topk` from ``src`` (a
    :class:`PositionalPostings`), rank ordered."""
    slots = phrase_terms(phrase)
    if not slots:
        return []
    uterms = sorted(set(slots))
    post = _decoded(src.rows(uterms, positions=True), positions=True)
    return _score(src, post, uterms, _phrase_docs(post, slots), top_k, k1, b)


def near_hits(src, question, window, top_k=DEFAULT_TOP_K, k1=BM25_K1, b=BM25_B):
    """:func:`near_topk` from ``src``."""
    if window < 1:
        raise ValueError("window must be >= 1")
    uterms = sorted(set(analyze(question)))
    if not uterms:
        return []
    post = _decoded(src.rows(uterms, positions=True), positions=True)
    return _score(src, post, uterms, _near_docs(post, uterms, window), top_k, k1, b)


def phrase_slop_hits(src, phrase, slop=0, top_k=DEFAULT_TOP_K, k1=BM25_K1, b=BM25_B):
    """:func:`phrase_slop_topk` from ``src``."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    slots = phrase_terms(phrase)
    if not slots:
        return []
    uterms = sorted(set(slots))
    post = _decoded(src.rows(uterms, positions=True), positions=True)
    docs = _ordered_docs(post, slots, len(slots) + slop)
    return _score(src, post, uterms, docs, top_k, k1, b)


def _expanded_hits(src, term_col, pick, top_k, k1, b, max_expansions):
    """The transparent multi-term rewrite from ``src``: every vocabulary
    term ``pick`` admits scores with its own idf; ``max_expansions``
    keeps the highest-df terms, ties term asc, like :func:`_expanded_topk`."""
    if max_expansions is not None and max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    rows = src.vocab_rows(term_col, pick)
    if max_expansions is not None:
        dfs = {r[0]: int(r[1]) for r in rows}
        keep = set(sorted(dfs, key=lambda t: (-dfs[t], t))[:max_expansions])
        rows = [r for r in rows if r[0] in keep]
    post = _decoded(rows, positions=False)
    return _score(src, post, sorted(post), None, top_k, k1, b)


def prefix_hits(src, prefix, top_k=DEFAULT_TOP_K, k1=BM25_K1, b=BM25_B,
                max_expansions=None):
    """:func:`prefix_topk` from ``src``."""
    p = prefix.lower()
    if not _TOKEN_OK.match(p):
        raise ValueError(f"prefix must be a plain analyzer token: {prefix!r}")
    return _expanded_hits(
        src, F.col("term").startswith(p), lambda ts: [t for t in ts if t.startswith(p)],
        top_k, k1, b, max_expansions,
    )


def wildcard_hits(src, pattern, top_k=DEFAULT_TOP_K, k1=BM25_K1, b=BM25_B,
                  max_expansions=None):
    """:func:`wildcard_topk` from ``src``."""
    p = pattern.lower()
    if not _WILDCARD_OK.match(p) or set(p) == {"*"}:
        raise ValueError(f"pattern must be analyzer chars + '*': {pattern!r}")
    rx = re.compile(".*".join(map(re.escape, p.split("*"))), re.S)
    return _expanded_hits(
        src, F.col("term").like(p.replace("*", "%")),
        lambda ts: [t for t in ts if rx.fullmatch(t)], top_k, k1, b, max_expansions,
    )


def _fuzzy_pick(q: str, max_edits: int):
    """Driver twin of :func:`_fuzzy_pred` over a term list: the same
    script rule and length band, then a bounded character-level
    Levenshtein vectorized across the surviving terms. The DP runs one
    row per query character and drops a term as soon as its whole row
    exceeds ``max_edits`` (no later row can come back under it); the
    NUL padding past a shorter term's end never matches, and the cells
    it feeds only ever lie right of the cell read for that term."""
    script = _ASCII_TERM.match if _ASCII_TERM.match(q) else _HANGUL.search

    def pick(terms):
        terms = [t for t in terms if abs(len(t) - len(q)) <= max_edits and script(t)]
        if not terms:
            return []
        # code points, NUL-padded to the longest term (UTF-32 view)
        codes = np.array(terms)
        width = codes.itemsize // 4
        codes = codes.view(np.uint32).reshape(len(terms), width)
        lens = np.array([len(t) for t in terms])
        keep = np.arange(len(terms))
        prev = np.tile(np.arange(width + 1), (len(terms), 1))
        for i, ch in enumerate(q, 1):
            best = np.minimum(prev[:, :-1] + (codes != ord(ch)), prev[:, 1:] + 1)
            cur = np.empty_like(prev)
            cur[:, 0] = i
            for j in range(width):
                cur[:, j + 1] = np.minimum(best[:, j], cur[:, j] + 1)
            live = cur.min(axis=1) <= max_edits
            prev, codes, lens, keep = cur[live], codes[live], lens[live], keep[live]
        ok = prev[np.arange(keep.size), lens] <= max_edits
        return [terms[i] for i in keep[ok]]

    return pick


def fuzzy_hits(src, term, max_edits=1, top_k=DEFAULT_TOP_K, k1=BM25_K1, b=BM25_B,
               max_expansions=None):
    """:func:`fuzzy_topk` from ``src``."""
    q = term.lower()
    if not _TOKEN_OK.match(q):
        raise ValueError(f"fuzzy term must be a plain analyzer token: {term!r}")
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    return _expanded_hits(
        src, _fuzzy_pred(q, max_edits), _fuzzy_pick(q, max_edits), top_k, k1, b,
        max_expansions,
    )


def bool_hits(src, must=(), should=(), must_not=(), top_k=DEFAULT_TOP_K,
              k1=BM25_K1, b=BM25_B):
    """:func:`bool_topk` from ``src``: one tf-only fetch of the must,
    should and must_not terms."""
    must_t, score_t, not_t = _bool_clauses(must, should, must_not)
    if not score_t:
        return []
    post = _decoded(src.rows(sorted(set(score_t) | set(not_t))), positions=False)
    docs = _bool_docs(post, must_t, score_t, not_t)
    return _score(src, post, score_t, docs, top_k, k1, b)


# ------------------------------------------- index-served DataFrame API
#
# The historical entry points keep their signatures: each serves its
# shape in scan mode and returns the at most top_k result rows as a
# DataFrame (identical results to the relational twin by construction,
# pinned by pytest + the shared DuckDB twins). The bucket modulus comes
# from the index's own stats.json, never from the caller.


def _hits_frame(spark: SparkSession, hits) -> DataFrame:
    return spark.createDataFrame(hits, "doc_id long, score double")


def phrase_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`phrase_topk` served from the persisted positional index."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(spark, phrase_hits(src, phrase, top_k, k1, b))


def near_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    question: str,
    window: int,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`near_topk` served from the persisted positional index."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(spark, near_hits(src, question, window, top_k, k1, b))


def phrase_slop_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    slop: int = 0,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`phrase_slop_topk` served from the persisted positional index."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(spark, phrase_slop_hits(src, phrase, slop, top_k, k1, b))


def prefix_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """:func:`prefix_topk` from the persisted index — ``startswith``
    pushes to the term-sorted postings scan as a row-group range."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(spark, prefix_hits(src, prefix, top_k, k1, b, max_expansions))


def wildcard_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """:func:`wildcard_topk` from the persisted index. A leading ``*``
    scans the whole dictionary (no row-group prune), never positions."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(spark, wildcard_hits(src, pattern, top_k, k1, b, max_expansions))


def fuzzy_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 1,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """:func:`fuzzy_topk` from the persisted index (same
    script-consistent expansion over the dictionary)."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(
        spark, fuzzy_hits(src, term, max_edits, top_k, k1, b, max_expansions)
    )


def bool_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`bool_topk` served from the persisted positional index."""
    src = PositionalPostings(spark, index_dir)
    return _hits_frame(spark, bool_hits(src, must, should, must_not, top_k, k1, b))
