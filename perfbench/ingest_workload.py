"""``ingest``: writes beside reads, on the segment tier. No server runs.

Set-up writes the corpus as disjoint parquet files, one per contiguous
doc-id range. Measured, in order:

* each file dropped into the input dir, ingested with
  ``stream_build_index(available_now=True)`` and followed by a fixed
  question batch on a fresh ``MultiSegmentSearcher``;
* ``compact_segments``;
* the same batch through a scan-mode ``IndexSearcher`` on the compacted
  index, after one untimed query: ``serve_http.py``'s default mode, one
  Spark job per query and no preload.

The first file also pays the JVM's first run of the index encoders, as a
freshly started ingest process does.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import inputs
import probes
from builds import build_indexes
from common import dir_bytes, median, nproc, tail
from config import BUCKETS, TOP_K

#: layer spans of the measured region (trace coverage is their self time
#: over the region's wall time)
LAYER_SPANS = ("incremental.segment_build", "incremental.searcher_open", "incremental.query",
               "incremental.compact", "query.scan")


def run(R) -> None:
    from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
    from sifter_mrc_search_engine_spark.streaming.incremental import (
        MultiSegmentSearcher,
        compact_segments,
        stream_build_index,
    )

    cfg, spark, tr = R.cfg, R.spark, R.tracer
    seg_dir, in_dir = R.scratch / "segments", R.scratch / "incoming"
    n_files = cfg["ingest_files"]
    os.makedirs(in_dir)
    batch = inputs.query_batch(R.seed, R.corpus, cfg["batch"])
    R.phase("staged")
    R.metric("setup_s", R.since_start(), "s")

    with tr.span("workload") as root:
        fresh, opened, seg_lat, seg_res, seg_q = [], [], [], [], []
        for k in range(n_files):
            landed = time.perf_counter()
            name = f"part-{k}.parquet"
            os.rename(os.path.join(R.corpus_dir, name), os.path.join(in_dir, name))
            with tr.span("incremental.segment_build"), R.group(f"incremental.segment.{k}"):
                stream_build_index(spark, in_dir, seg_dir, R.scratch / "ckpt", buckets=BUCKETS)
            with tr.span("incremental.searcher_open"):
                t = time.perf_counter()
                searcher = MultiSegmentSearcher(spark, seg_dir, buckets=BUCKETS)
                opened.append(time.perf_counter() - t)
            fresh.append(time.perf_counter() - landed)
            res, inb, ex = [], [], []
            for i, q in enumerate(batch):
                group = f"incremental.query.{k}.{i}"
                with tr.span("incremental.query"), R.group(group):
                    t = time.perf_counter()
                    res.append(searcher.search(q, top_k=TOP_K))
                    seg_lat.append((time.perf_counter() - t) * 1000)
                if R.traced:
                    m = R.stages.totals(group)
                    inb.append(m["input_bytes"])
                    ex.append(m["executor_run_s"] * 1000)
            seg_res.append(res)
            seg_q.append((len(searcher.segments), inb, ex))
        R.phase("ingest")

        with tr.span("incremental.compact"), R.group("incremental.compact"):
            t = time.perf_counter()
            compacted = compact_segments(spark, seg_dir, buckets=BUCKETS)
            compact_s = time.perf_counter() - t
        R.phase("compact")
        scan_res, scan_lat = probes.scan(R, compacted, batch)
        R.phase("scan")

    # segments against brute force over the ingested prefix: one question
    # per prefix, every question on the whole corpus
    docs = spark.read.parquet(in_dir)
    checked = [(k, i) for k in range(n_files) for i in range(len(batch))
               if k == n_files - 1 or i == k % len(batch)]

    def brute(ki):
        _, hi = inputs.file_range(R.corpus.n_docs, n_files, ki[0])
        return checks.rows(bm25_brute_force(docs.filter(f"doc_id < {hi}"), batch[ki[1]],
                                            top_k=TOP_K))

    with ThreadPoolExecutor(max_workers=nproc()) as pool:
        want = dict(zip(checked, pool.map(brute, checked)))
    for k in range(n_files):
        R.count(seg_q[k][0] == k + 1, f"{seg_q[k][0]} segments after {k + 1} files")
        for i, q in enumerate(batch):
            ok = (k, i) not in want or checks.same_topk(seg_res[k][i], want[(k, i)])
            R.count(ok, f"segments after {k + 1} files: {q!r} differs from brute force")
    for q, got, seg in zip(batch, scan_res, seg_res[-1]):
        R.count(checks.same_topk(got, seg), f"compacted {q!r} differs from segmented")
    with open(os.path.join(compacted, "stats.json")) as fh:
        R.count(json.load(fh)["n_docs"] == R.corpus.n_docs, "compacted n_docs differs")
    R.phase("checked")

    n = R.corpus.n_docs
    R.metric("ingest_freshness_s", median(fresh), "s", samples=len(fresh))
    R.metric("ingest_docs_per_s", n / sum(fresh), "docs/s", samples=len(fresh))
    p, v = tail(seg_lat)
    R.metric("segment_query_p50_ms", median(seg_lat), "ms", samples=len(seg_lat))
    R.metric("segment_query_p95_ms", v, "ms", samples=len(seg_lat), percentile=p)
    R.metric("compact_s", compact_s, "s")
    R.metric("compact_docs_per_s", n / compact_s, "docs/s")
    R.metric("scan_query_p50_ms", median(scan_lat), "ms", samples=len(scan_lat),
             values=scan_lat)
    R.metric("index_bytes_per_text_byte", dir_bytes(compacted) / R.corpus.text_bytes, "ratio")

    if R.traced:
        R.layer("incremental.segments", n_files, "count")
        R.layer("incremental.segment_build_s",
                median(tr.durations("incremental.segment_build")), "s")
        R.stage_layer("incremental.segment", f"incremental.segment.{n_files - 1}")
        R.layer("incremental.searcher_open_s", median(opened), "s")
        # per query on the last searcher; by_segments shows the growth
        _, inb, ex = seg_q[-1]
        R.layer("incremental.query_input_bytes", sum(inb) / len(inb), "bytes",
                by_segments={c: sum(b) / len(b) for c, b, _ in seg_q})
        R.layer("incremental.query_executor_ms", sum(ex) / len(ex), "ms",
                by_segments={c: sum(e) / len(e) for c, _, e in seg_q})
        R.layer("incremental.compact_s", compact_s, "s")
        R.stage_layer("incremental.compact", "incremental.compact")
        selft = tr.self_time_by_name(under="workload")
        covered = sum(selft.get(name, 0.0) for name in LAYER_SPANS)
        R.layer("trace.coverage", covered / (root["end"] - root["start"]), "ratio")
        # the layers this workload bypasses, measured on indexes built
        # from the same corpus so that every layer has a figure here too
        idx, pos = R.scratch / "index", R.scratch / "positional"
        build_indexes(R, docs, idx, pos, "probe")
        probes.tokenize(R, docs)
        probes.serving(R, idx, inputs.query_batch(R.seed, R.corpus, cfg["probe_queries"]))
        smix = inputs.structured_mix(R.seed, R.corpus)
        expected = {name: checks.rows(probes.relational(docs, body)) for name, body in smix}
        probes.structured(R, pos, smix, expected)
