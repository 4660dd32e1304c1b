"""Traced direct calls into each layer's public functions (traced runs
only). Both workloads run them against the indexes they built, so every
per-layer metric is measured on every workload."""

from __future__ import annotations

import time

import checks
from common import median, pct
from config import BUCKETS, TOP_K

#: per-query timings reported as p50 and p99
_PER_QUERY = ("analyzer.analyze", "query.candidate_rows", "wand.topk")


def tokenize(R, docs) -> None:
    from sifter_mrc_search_engine_spark.operators.index_build import tokens

    with R.tracer.span("analyzer.tokenize"):
        t = time.perf_counter()
        tokens(docs).count()
        R.layer("analyzer.tokenize_s", time.perf_counter() - t, "s")


def serving(R, idx: str, questions: list[str]) -> dict[int, float]:
    """Preloaded serving path, layer by layer. Returns, per probe query,
    the summed self time of its layer spans in ms."""
    from sifter_mrc_search_engine_spark.functions.analyzer import analyze
    from sifter_mrc_search_engine_spark.operators.wand import wand_topk
    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
    from sifter_mrc_search_engine_spark.plans.service import InferenceService

    tr = R.tracer
    with tr.span("query.preload"):
        t = time.perf_counter()
        s = IndexSearcher(R.spark, idx, buckets=BUCKETS, preload=True)
        R.layer("query.preload_s", time.perf_counter() - t, "s")
    R.layer("query.preload_rows", s.postings.count(), "count")
    with tr.span("query.norms_load"):
        t = time.perf_counter()
        doclen = s.doclen
        R.layer("query.norms_load_s", time.perf_counter() - t, "s")

    def one(q):
        terms = analyze(q)
        rows = s.candidate_rows(terms)
        return rows, wand_topk(rows, terms, doclen, s.n_docs, s.avgdl, top_k=TOP_K)

    untraced = []
    for q in questions:
        t = time.perf_counter()
        one(q)
        untraced.append(time.perf_counter() - t)

    postings = hits = 0
    for i, q in enumerate(questions):
        with tr.span("probe.query", rid=i):
            with tr.span("analyzer.analyze"):
                terms = analyze(q)
            with tr.span("query.candidate_rows"):
                rows = s.candidate_rows(terms)
            with tr.span("wand.topk"):
                top = wand_topk(rows, terms, doclen, s.n_docs, s.avgdl, top_k=TOP_K)
        postings += sum(int(r["n"]) for r in rows)
        hits += len(top)
        R.count(checks.same_topk(top, s.search(q, top_k=TOP_K)),
                f"direct layer calls disagree with IndexSearcher.search for {q!r}")
    for name in _PER_QUERY:
        ms = [d * 1000 for d in tr.durations(name)]
        R.layer(f"{name}_p50_ms", pct(ms, 50), "ms")
        R.layer(f"{name}_p99_ms", pct(ms, 99), "ms")
    R.layer("query.postings_per_query", postings / len(questions), "count")
    R.layer("wand.postings_per_hit", postings / max(hits, 1), "count")
    R.layer("trace.overhead_ms",
            (median(tr.durations("probe.query")) - median(untraced)) * 1000, "ms")

    svc = InferenceService(s)
    inf, srch = [], []
    for q in questions:
        with tr.span("service.inference"):
            t = time.perf_counter()
            svc.inference(q)
            inf.append(time.perf_counter() - t)
        with tr.span("query.search"):
            t = time.perf_counter()
            s.search(q)
            srch.append(time.perf_counter() - t)
    R.layer("service.overhead_ms", (median(inf) - median(srch)) * 1000, "ms")
    R.layer("service.inference_p50_ms", median(inf) * 1000, "ms")

    selft = tr.self_times()
    per_rid: dict[int, float] = {}
    for sp in tr.spans:
        if sp["name"] in _PER_QUERY:
            per_rid[sp["rid"]] = per_rid.get(sp["rid"], 0.0) + selft[sp["id"]] * 1000
    return per_rid


def indexed(spark, pos: str, body: dict):
    from sifter_mrc_search_engine_spark.operators import positional as P

    t = body["type"]
    if t == "phrase":
        return P.phrase_topk_indexed(spark, pos, body["phrase"], top_k=TOP_K)
    if t == "slop":
        return P.phrase_slop_topk_indexed(spark, pos, body["phrase"], slop=body["slop"],
                                          top_k=TOP_K)
    if t == "prefix":
        return P.prefix_topk_indexed(spark, pos, body["prefix"], top_k=TOP_K)
    if t == "fuzzy":
        return P.fuzzy_topk_indexed(spark, pos, body["term"], max_edits=body["max_edits"],
                                    top_k=TOP_K)
    return P.bool_topk_indexed(spark, pos, must=body["must"], should=body["should"],
                               must_not=body["must_not"], top_k=TOP_K)


def relational(docs, body: dict):
    """The relational twin of a structured request: the same query scored
    over the raw corpus, no index."""
    from sifter_mrc_search_engine_spark.operators import positional as P

    t = body["type"]
    if t == "phrase":
        return P.phrase_topk(docs, body["phrase"], top_k=TOP_K)
    if t == "slop":
        return P.phrase_slop_topk(docs, body["phrase"], slop=body["slop"], top_k=TOP_K)
    if t == "prefix":
        return P.prefix_topk(docs, body["prefix"], top_k=TOP_K)
    if t == "fuzzy":
        return P.fuzzy_topk(docs, body["term"], max_edits=body["max_edits"], top_k=TOP_K)
    return P.bool_topk(docs, must=body["must"], should=body["should"],
                       must_not=body["must_not"], top_k=TOP_K)


def structured(R, pos: str, smix, expected: dict) -> None:
    """Each structured type through its ``*_indexed`` function, with the
    stage metrics of its Spark jobs; checked against ``expected`` where it
    has the type."""
    indexed(R.spark, pos, smix[0][1]).collect()  # positional serve state
    per_query = {k: [] for k in ("input_bytes", "shuffle_write_bytes", "executor_run_s")}
    for name, body in smix:
        group = f"structured.{name}"
        with R.tracer.span(group), R.group(group):
            t = time.perf_counter()
            got = checks.rows(indexed(R.spark, pos, body))
            R.layer(f"{group}_ms", (time.perf_counter() - t) * 1000, "ms")
        if name in expected:
            R.count(checks.same_topk(got, expected[name], checks.POSITIONAL_TOL),
                    f"{name} *_indexed result differs from its relational twin")
        m = R.stages.totals(group)
        for k in per_query:
            per_query[k].append(m[k])
    n = len(smix)
    R.layer("positional.query_input_bytes", sum(per_query["input_bytes"]) / n, "bytes")
    R.layer("positional.query_shuffle_bytes", sum(per_query["shuffle_write_bytes"]) / n, "bytes")
    R.layer("positional.query_executor_ms", sum(per_query["executor_run_s"]) * 1000 / n, "ms")


def scan(R, idx: str, questions: list[str]):
    """Scan-mode ``IndexSearcher`` (one bucket-pruned Spark job per query,
    no preload), serve_http.py's default mode, after one untimed query.
    Returns ``(results, latencies_ms)``; traced runs also record per-query
    input bytes and executor time."""
    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher

    s = IndexSearcher(R.spark, idx, buckets=BUCKETS)
    s.search(questions[0])  # the lazy norms load
    out, lat, inb, ex = [], [], [], []
    for i, q in enumerate(questions):
        group = f"query.scan.{i}"
        with R.tracer.span("query.scan"), R.group(group):
            t = time.perf_counter()
            out.append(s.search(q, top_k=TOP_K))
            lat.append((time.perf_counter() - t) * 1000)
        if R.traced:
            m = R.stages.totals(group)
            inb.append(m["input_bytes"])
            ex.append(m["executor_run_s"] * 1000)
    if R.traced:
        R.layer("query.scan_input_bytes", sum(inb) / len(inb), "bytes")
        R.layer("query.scan_executor_ms", sum(ex) / len(ex), "ms")
    return out, lat
