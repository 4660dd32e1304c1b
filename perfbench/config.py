"""Workload parameters. The workloads' names and reasons are in
BENCHMARK.json; the sizes, rates and client counts live here.

``HELD_OUT_SEED`` is never used while tuning a change: a claimed gain
must also hold on it.
"""

HELD_OUT_SEED = 90210
BUCKETS = 64
TOP_K = 10

WORKLOADS = {
    # jobs/serve_http.py --preload --positional-index over a corpus built
    # at set-up. Shares of --seconds per measured phase; the structured
    # closed loop is one pass over its six request types.
    "serve": {
        "docs": 3000,
        # a quarter of the single-connection capacity measured on the
        # 4-CPU host (~400/s): at half, host contention alone pushed
        # the server past the rate and the backlog grew
        "rate": 100.0,  # open-loop GET /inference per second
        "open_share": 0.5,
        "burst_share": 0.2,  # closed loop on nproc connections
        "probe_queries": 300,  # traced direct-call queries
    },
    # the corpus streamed in as segments, compacted, queried in scan mode
    "ingest": {
        "docs": 3000,
        "ingest_files": 3,
        "batch": 6,  # questions per segment searcher, then in scan mode
        "probe_queries": 300,
    },
}

#: --tiny: every phase once, on a corpus small enough for a smoke run
TINY = {
    "serve": {"docs": 1200, "rate": 40.0, "probe_queries": 40},
    "ingest": {"docs": 1200, "ingest_files": 2, "batch": 3, "probe_queries": 40},
}
