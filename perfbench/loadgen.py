"""HTTP load generator, run as its own process so that it shares no
interpreter lock with the server:

    python3 perfbench/loadgen.py <spec.json> <out.json>

Phases, in order: an open loop of GETs at a fixed rate, a closed-loop
burst of the same GETs on ``clients`` connections, and one pass of the
structured POSTs, closed loop on one connection. At most ``nproc``
threads. Every record keeps when the request was due, sent and done, the
status (-1 for a connection error or timeout) and, for the requests the
caller checks, the body.
"""

from __future__ import annotations

import http.client
import itertools
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

TIMEOUT_S = 30.0


def call(port: int, method: str, path: str, body: bytes | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        headers = {"Content-Type": "application/json"} if body is not None else {}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        return -1, b""
    finally:
        conn.close()


def _record(i, due, port, method, path, body, keep):
    sent = time.perf_counter()
    status, out = call(port, method, path, body)
    done = time.perf_counter()
    return {"i": i, "due": due, "sent": sent, "done": done, "status": status,
            "body": out.decode("utf-8") if keep else None}


def open_loop(port, paths, rate, workers, keep):
    """GET ``paths[i]`` at ``t0 + i/rate`` whatever the server's pace; a
    request waiting for a free thread is still timed from its due time."""
    t0 = time.perf_counter() + 0.05
    futs = []
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for i, path in enumerate(paths):
            due = t0 + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            futs.append(pool.submit(_record, i, due, port, "GET", path, None, path in keep))
    return [f.result() for f in futs]


def closed_loop(port, requests, clients, seconds, keep, min_requests=0):
    """``clients`` connections, each sending its next request when the
    previous one returns, cycling through ``requests`` (``(method, path,
    body)``) until ``seconds`` have passed and at least ``min_requests``
    were sent. Returns ``(records, wall_s)``."""
    counter = itertools.count()
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client():
        out = []
        while True:
            with lock:
                i = next(counter)
            if time.perf_counter() >= deadline and i >= min_requests:
                return out
            method, path, body = requests[i % len(requests)]
            out.append(_record(i, time.perf_counter(), port, method, path, body,
                               keep(method, path)))

    with ThreadPoolExecutor(max_workers=clients) as pool:
        futs = [pool.submit(client) for _ in range(clients)]
        recs = [r for f in futs for r in f.result()]
    return sorted(recs, key=lambda r: r["i"]), time.perf_counter() - t0


def run(spec: dict) -> dict:
    port = spec["port"]
    keep = set(spec["keep_paths"])
    phases = {}
    t = time.perf_counter()
    out = {"open": open_loop(port, spec["paths"], spec["rate"], spec["clients"], keep)}
    phases["open"] = (t, time.perf_counter())
    t = time.perf_counter()
    gets = [("GET", p, None) for p in spec["paths"]]
    out["burst"], out["burst_wall"] = closed_loop(
        port, gets, spec["clients"], spec["burst_seconds"], lambda m, p: p in keep)
    phases["burst"] = (t, time.perf_counter())
    t = time.perf_counter()
    posts = [("POST", "/search/structured", json.dumps(b).encode()) for b in spec["bodies"]]
    out["structured"], out["structured_wall"] = closed_loop(
        port, posts, 1, 0.0, lambda m, p: True, min_requests=len(posts))
    phases["structured"] = (t, time.perf_counter())
    out["phases"] = phases
    return out


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    out = run(spec)
    with open(sys.argv[2], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
