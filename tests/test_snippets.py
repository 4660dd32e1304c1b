"""Highlight snippets: best query-term window per hit, vs the DuckDB twin."""

import duckdb
import pytest
from pyspark.sql import functions as F

from sifter_mrc_search_engine_spark.operators import snippets as S


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta noise noise noise alpha beta gamma"),
        (2, "noise alpha noise noise noise noise noise beta"),
        (3, "gamma gamma gamma"),
        (4, "alpha"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(
        (int(r["doc_id"]), round(float(r["score"]), 4), r["snippet"])
        for r in df.select(
            "doc_id", F.round("score", 4).alias("score"), "snippet"
        ).collect()
    )


def _duck(docs_df, sql):
    con = duckdb.connect()
    con.register("documents", docs_df.toPandas())
    return con.sql(sql).df()


def test_highlight_best_window(docs):
    out = {r["doc_id"]: r["snippet"] for r in S.highlight_topk(
        docs, "alpha beta", window=4).collect()}
    # doc 1: window of 4 ending at pos 6 covers alpha@5 beta@6 gamma... the
    # 3-hit window is positions 4..7?? tokens: alpha(0) beta(1) n n n alpha(5)
    # beta(6) gamma(7); windows of 4: [3..6] has alpha,beta (2 hits);
    # [0..3] has alpha,beta (2 hits). Max cnt=2, tie -> earliest end pos=1,
    # start=max(1-3,0)=0 -> "alpha beta noise noise"
    assert out[1] == "alpha beta noise noise"
    # doc 2: alpha@1, beta@7 never share a 4-window; first window wins
    assert out[2] == "noise alpha noise noise"
    # doc 4: single token, window clamps to doc start
    assert out[4] == "alpha"
    assert 3 not in out  # no query terms -> not a hit


def test_highlight_vs_oracle(docs):
    for q, w in [("alpha beta", 4), ("alpha", 1), ("gamma", 3)]:
        got = _rows(S.highlight_topk(docs, q, window=w))
        want = sorted(
            (int(r.doc_id), round(float(r.score), 4), r.snippet)
            for r in _duck(docs, S.sql_highlight_topk(q, window=w)).itertuples()
        )
        assert got == want, (q, w, got, want)


def test_highlight_edges(docs):
    # no matching terms -> typed empty
    empty = S.highlight_topk(docs, "zzz")
    assert empty.columns == ["doc_id", "score", "snippet"]
    assert empty.count() == 0
    # unanalyzable question -> typed empty, twin matches
    e2 = S.highlight_topk(docs, "!!!")
    assert e2.count() == 0
    assert _duck(docs, S.sql_highlight_topk("!!!")).shape[0] == 0
    with pytest.raises(ValueError, match="window"):
        S.highlight_topk(docs, "alpha", window=0)
    with pytest.raises(ValueError, match="window"):
        S.sql_highlight_topk("alpha", window=0)


def test_highlight_on_real_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = S.highlight_topk(docs, "spark query", window=8).collect()
    assert len(out) == 10
    for r in out:
        toks = r["snippet"].split()
        assert 1 <= len(toks) <= 8
        # the best window must actually contain a query term
        assert any(t in ("spark", "query") for t in toks), r["snippet"]
    got = _rows(S.highlight_topk(docs, "spark query", window=8))
    want = sorted(
        (int(r.doc_id), round(float(r.score), 4), r.snippet)
        for r in _duck(docs, S.sql_highlight_topk("spark query", window=8)).itertuples()
    )
    assert got == want


def test_highlight_plan_holds_no_bm25_aggregate(docs):
    """The BM25 top-k is collected once: the returned plan joins the
    snippets to the local hit rows and never re-runs the score
    aggregate."""
    out = S.highlight_topk(docs, "alpha beta", window=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 4]
