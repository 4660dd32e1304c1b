"""``serve``: GET /inference and POST /search/structured against
``jobs/serve_http.py --preload --positional-index``.

The job runs unchanged, through its own ``main``, in the benchmark's
main process and on the session that built the index; the load comes
from a separate process (``loadgen.py``), so the server and the load
generator share no interpreter lock. While the load runs, the
benchmark's own thread only waits for the load generator to exit.

Set-up builds both indexes from the seeded corpus, timed
(``build_docs_per_s``): the first build in the process's JVM, as a
one-shot ``jobs/build_index.py --positional-output`` submit runs it.
Measured, in order: an open loop of GET /inference at
a fixed rate (latency from each request's due time), a closed-loop
burst on ``nproc`` connections (capacity), and a closed loop of
structured requests on one connection. No Spark job runs per /inference
request; every structured request runs Spark jobs over the positional
index. The expected outputs are computed after the load, on the idle
server's session.
"""

from __future__ import annotations

import json
import os
import runpy
import signal
import socket
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import inputs
import probes
from builds import build_indexes
from common import ROOT, SERVE_JOB, dir_bytes, median, nproc, tail, tree_rss_mb
from config import BUCKETS, TOP_K
from loadgen import call

READY_TIMEOUT_S = 120
LOADGEN_TIMEOUT_S = 150


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_port(port: int) -> None:
    deadline = time.monotonic() + READY_TIMEOUT_S
    while True:
        try:
            socket.create_connection(("127.0.0.1", port), timeout=1).close()
            return
        except OSError:
            if time.monotonic() > deadline:
                raise RuntimeError(f"server did not listen on port {port}")
            time.sleep(0.02)


class LoadRunner(threading.Thread):
    """Warms the server once it listens, runs the load generator, runs
    ``after`` (Spark work that needs the session ``serve_http`` stops on
    its way out), then stops the server the way an operator would:
    SIGTERM to its process. ``serve_http.main`` holds the main thread
    until then."""

    def __init__(self, R, port: int, warm, spec: dict, after=None):
        super().__init__(daemon=True)
        self.R, self.port, self.warm, self.spec, self.after = R, port, warm, spec, after
        self.server_done = threading.Event()
        self.result = None
        self.error: BaseException | None = None

    def run(self) -> None:
        R = self.R
        try:
            self.warm(self.port)
            R.phase("server_warm")
            R.metric("setup_s", R.since_start(), "s")
            R.metric("serve_rss_mb", tree_rss_mb(os.getpid()), "MB")
            spec, out = R.scratch / "loadgen_spec.json", R.scratch / "loadgen_out.json"
            with open(spec, "w") as fh:
                json.dump(self.spec, fh)
            subprocess.run([sys.executable, str(ROOT / "perfbench" / "loadgen.py"), spec, out],
                           check=True, timeout=LOADGEN_TIMEOUT_S)
            with open(out) as fh:
                self.result = json.load(fh)
            R.phase("measured")
            if self.after is not None:
                self.after()
                R.phase("expected")
        except BaseException as e:  # re-raised by the main thread
            self.error = e
        finally:
            # a SIGTERM that lands before serve_http reaches signal.pause()
            # is consumed by its handler without waking it: repeat
            while not self.server_done.is_set():
                os.kill(os.getpid(), signal.SIGTERM)
                self.server_done.wait(1.0)


def run(R) -> None:
    cfg, spark, tr = R.cfg, R.spark, R.tracer
    idx, pos = R.scratch / "index", R.scratch / "positional"
    n_open = max(int(cfg["rate"] * R.seconds * cfg["open_share"]), 20)
    mix, checked = inputs.inference_mix(R.seed, R.corpus, n_open)
    smix = inputs.structured_mix(R.seed, R.corpus)
    docs = spark.read.parquet(R.corpus_dir)

    from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force

    # the first build in this JVM, as a one-shot spark-submit build job
    # runs it: JIT compilation and the Python workers' start included
    build_s = sum(build_indexes(R, docs, idx, pos, "0"))
    R.metric("build_docs_per_s", R.corpus.n_docs / build_s, "docs/s")
    R.metric("index_bytes_per_text_byte",
             (dir_bytes(idx) + dir_bytes(pos)) / R.corpus.text_bytes, "ratio")
    R.phase("indexes")

    expected, s_expected = {}, {}

    def expect():
        """Expected outputs, four Spark jobs at a time; half of the
        structured types per run, alternating with the seed."""
        with ThreadPoolExecutor(max_workers=nproc()) as pool:
            f_exp = {q: pool.submit(
                lambda q=q: checks.rows(bm25_brute_force(docs, q, top_k=TOP_K)))
                for q in checked}
            f_sexp = {name: pool.submit(lambda b=body: checks.rows(probes.relational(docs, b)))
                      for i, (name, body) in enumerate(smix) if (i + R.seed) % 2 == 0}
            expected.update((q, f.result()) for q, f in f_exp.items())
            s_expected.update((name, f.result()) for name, f in f_sexp.items())

    if R.traced:
        expect()
        probes.tokenize(R, docs)
        valid = list(dict.fromkeys(q.question for q in mix if q.question.strip()))
        per_rid = probes.serving(R, idx, valid[: cfg["probe_queries"]])
        probes.structured(R, pos, smix, s_expected)
        probes.scan(R, idx, checked)

    def warm(port):
        """The server's lazy norms load and positional serve state."""
        _wait_port(port)
        for q in checked:
            call(port, "GET", inputs.request_path(q))
        call(port, "POST", "/search/structured", json.dumps(smix[0][1]).encode())

    port = _free_port()
    spec = {
        "port": port, "clients": nproc(), "rate": cfg["rate"],
        "paths": [q.path for q in mix],
        "keep_paths": [inputs.request_path(q) for q in checked],
        "burst_seconds": R.seconds * cfg["burst_share"],
        "bodies": [b for _, b in smix],
    }
    runner = LoadRunner(R, port, warm, spec, after=None if R.traced else expect)
    runner.start()
    serve_http = runpy.run_path(str(SERVE_JOB), run_name="serve_http")
    try:
        serve_http["main"](["--index", idx, "--preload", "--positional-index", pos,
                            "--port", str(port), "--buckets", str(BUCKETS)])
    finally:
        runner.server_done.set()
        runner.join()
    if runner.error is not None:
        raise runner.error
    out = runner.result

    for r in out["open"] + out["burst"]:
        q = mix[r["i"] % len(mix)]
        ok = r["status"] == q.expect
        if ok and r["body"] is not None and q.expect == 200:
            got = [(a["doc_id"], a["score"]) for a in json.loads(r["body"])["answers"]]
            ok = checks.same_topk(got, expected[q.question])
        R.count(ok, f"GET /inference {q.question!r}: status {r['status']}, want {q.expect}")
    for r in out["structured"]:
        name, body = smix[r["i"] % len(smix)]
        ok = r["status"] == 200
        if ok and name in s_expected:
            ok = checks.same_topk(
                [(h["doc_id"], h["score"]) for h in json.loads(r["body"])["hits"]],
                s_expected[name], checks.POSITIONAL_TOL)
        R.count(ok, f"POST /search/structured {name} {body}: status {r['status']}")
    R.phase("checked")

    lat = [(r["done"] - r["due"]) * 1000 for r in out["open"]]
    p, v = tail(lat)
    R.metric("serve_p50_ms", median(lat), "ms", samples=len(lat))
    R.metric("serve_p99_ms", v, "ms", samples=len(lat), percentile=p)
    R.metric("serve_capacity_qps", len(out["burst"]) / out["burst_wall"], "req/s",
             samples=len(out["burst"]), clients=nproc())
    s_lat = [(r["done"] - r["sent"]) * 1000 for r in out["structured"]]
    R.metric("structured_p50_ms", median(s_lat), "ms", samples=len(s_lat))
    R.metric("structured_mean_ms", sum(s_lat) / len(s_lat), "ms", samples=len(s_lat),
             values=s_lat)
    R.metric("structured_qps", len(s_lat) / out["structured_wall"], "req/s",
             samples=len(s_lat), clients=1)
    late = [(r["sent"] - r["due"]) * 1000 for r in out["open"]]
    R.metric("loadgen_late_p50_ms", median(late), "ms", samples=len(late))

    if R.traced:
        root = tr.record("workload", out["phases"]["open"][0], out["phases"]["structured"][1])
        for name, (a, b) in out["phases"].items():
            parent = tr.record(f"serve.{name}", a, b, parent=root)
            for r in out[name]:
                tr.record("loadgen.request", r["sent"], r["done"], rid=f"{name}.{r['i']}",
                          parent=parent)
        R.layer("loadgen.late_ms", median(late), "ms")
        R.layer("http_service.overhead_ms",
                median(lat) - R.layers["service.inference_p50_ms"]["value"], "ms")
        R.layer("trace.coverage", median(list(per_rid.values())) / median(lat), "ratio")
