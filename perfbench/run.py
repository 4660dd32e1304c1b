"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
BENCHMARK.json end-to-end metrics (``--trace 0``) or per-layer metrics
(``--trace 1``). The line before it is the full report: every named
metric of the workload, host context and, when traced, every layer
metric. Reports and spans are also written under ``.perfbench_out/``.
Exits 1 when any output check fails, 2 when the program is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import (  # noqa: E402
    OUT_ROOT,
    ROOT,
    MissingProgram,
    Run,
    Scratch,
    cpu_times,
    nproc,
    require_program,
    start_spark,
    stop_spark,
    write_json,
)
from config import HELD_OUT_SEED, TINY, WORKLOADS  # noqa: E402

#: BENCHMARK.json end-to-end name -> the workload's report metric
END_TO_END = {
    "serve": {
        "setup_s": "setup_s",
        "latency_p50_ms": "serve_p50_ms",
        "heavy_query_ms": "structured_mean_ms",
        "index_docs_per_s": "build_docs_per_s",
        "index_bytes_per_text_byte": "index_bytes_per_text_byte",
    },
    "ingest": {
        "setup_s": "setup_s",
        "latency_p50_ms": "segment_query_p50_ms",
        "heavy_query_ms": "scan_query_p50_ms",
        "index_docs_per_s": "compact_docs_per_s",
        "index_bytes_per_text_byte": "index_bytes_per_text_byte",
    },
}

#: every report metric a workload prints
REPORT = {
    "serve": ("setup_s", "build_docs_per_s", "index_bytes_per_text_byte", "serve_p50_ms",
              "serve_p99_ms", "serve_capacity_qps", "serve_rss_mb", "structured_p50_ms",
              "structured_mean_ms", "structured_qps", "fail_ratio"),
    "ingest": ("setup_s", "ingest_freshness_s", "ingest_docs_per_s", "segment_query_p50_ms",
               "segment_query_p95_ms", "compact_s", "compact_docs_per_s", "scan_query_p50_ms",
               "index_bytes_per_text_byte", "fail_ratio"),
}


def _workload_module(name: str):
    if name == "serve":
        import serve_workload as mod
    else:
        import ingest_workload as mod
    return mod


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(args) -> int:
    try:
        require_program()
    except MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    import pyspark

    import inputs

    w = args.workload
    cfg = {**WORKLOADS[w], **(TINY[w] if args.tiny else {})}
    R = Run(w, args.seed, float(args.seconds), bool(args.trace), cfg, T_START)
    load_start = os.getloadavg()[0]
    steal_start = cpu_times()
    R.scratch = Scratch(f"{w}-s{args.seed}-t{args.trace}")
    R.corpus_dir = R.scratch / "corpus"
    try:
        with R.tracer.span("session.start"):
            t = time.perf_counter()
            R.spark = start_spark(R.scratch, f"perfbench-{w}")
            session_s = time.perf_counter() - t
        R.phase("session")
        R.corpus = inputs.corpus(args.seed, cfg["docs"])
        with R.tracer.span("pages.synthesize"):
            t = time.perf_counter()
            inputs.synthesize(R.corpus, R.corpus_dir, cfg.get("ingest_files", nproc()))
            synth_s = time.perf_counter() - t
        R.phase("corpus")
        if R.traced:
            from stagemetrics import StageMetrics

            R.stages = StageMetrics(R.spark.sparkContext)
            R.layer("session.start_s", session_s, "s")
            R.layer("pages.synthesize_s", synth_s, "s")
        _workload_module(w).run(R)
    finally:
        if R.spark is not None:
            stop_spark(R.spark)
        R.scratch.remove()
    R.phase("stopped")

    R.metric("fail_ratio", R.failed / max(R.attempted, 1), "ratio",
             failed=R.failed, attempted=R.attempted)
    load_end = os.getloadavg()[0]
    steal_end = cpu_times()
    host = {
        "nproc": nproc(),
        "load_1m_start": load_start,
        "load_1m_end": load_end,
        "load_high": load_start > nproc() / 2,
        "cpu_steal_share": (steal_end[0] - steal_start[0])
        / max(steal_end[1] - steal_start[1], 1),
        "pyspark": pyspark.__version__,
        "corpus_docs": R.corpus.n_docs,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": R.seconds,
        "trace": int(R.traced),
    }
    if w == "serve":
        host["serve_rate_per_s"] = cfg["rate"]
        host["serve_clients"] = nproc()
    if host["load_high"]:
        print(f"perfbench: load average {load_start:.2f} at start exceeds nproc/2; "
              "figures from this run are noisy", file=sys.stderr)
    report = {"workload": w, "host": host, "metrics": R.metrics, "phases": R.phases,
              "failures": R.failures}
    if R.traced:
        report["layers"] = R.layers
    tag = f"{w}-seed{args.seed}-trace{args.trace}"
    write_json(OUT_ROOT / f"report-{tag}.json", report)
    if R.traced:
        R.tracer.write(str(OUT_ROOT / f"spans-{tag}.jsonl"))
    print(json.dumps({"report": report}, sort_keys=True))

    bench = _benchmark_json()
    if R.traced:
        metrics = {m["name"]: {"value": R.layers[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": R.metrics[END_TO_END[w][m["name"]]]["value"],
                               "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": R.failed == 0, "attempted": R.attempted,
                      "failed": R.failed, "metrics": metrics}))
    return 0 if R.failed == 0 else 1


def smoke() -> int:
    """Every workload once, untraced and traced, on a tiny corpus; every
    metric BENCHMARK.json names and every report metric must be printed."""
    bench = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    bad = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", "1",
                   "--seconds", "2", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                bad.append(f"{w} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
            want = layers if trace else e2e
            for name, unit in want.items():
                got = result["metrics"].get(name)
                if got is None or got["unit"] != unit:
                    bad.append(f"{w} trace={trace}: {name} [{unit}] missing or wrong unit")
            for name in REPORT[w]:
                if name not in report["metrics"]:
                    bad.append(f"{w} trace={trace}: report metric {name} missing")
            if not result["correct"]:
                bad.append(f"{w} trace={trace}: output checks failed: {report['failures']}")
            print(f"smoke {w} trace={trace}: ok={not bad}", flush=True)
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny corpus, for the smoke run")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once, traced and untraced, on a tiny corpus")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
