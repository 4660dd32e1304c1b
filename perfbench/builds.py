"""The index builds both workloads run: ``jobs/build_index.py
--positional-output``'s shape, one call per index, each under its own job
group so its stage metrics can be read back."""

from __future__ import annotations

import json
import os
import shutil
import time

from common import dir_bytes
from config import BUCKETS


def _stats_ok(R, index_dir: str) -> bool:
    with open(os.path.join(index_dir, "stats.json")) as fh:
        st = json.load(fh)
    return st["n_docs"] == R.corpus.n_docs and abs(st["avgdl"] - R.corpus.avgdl) <= 1e-9 * R.corpus.avgdl


def build_indexes(R, docs, idx: str, pos: str, tag: str) -> tuple[float, float]:
    """Compressed index, then positional index, from scratch. Checks each
    ``stats.json`` against the corpus and returns the two wall times."""
    from sifter_mrc_search_engine_spark.operators.positional import write_positional_index
    from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable

    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(pos, ignore_errors=True)
    groups = (f"checkpoint.build.{tag}", f"positional.build.{tag}")
    with R.tracer.span("checkpoint.build"), R.group(groups[0]):
        t = time.perf_counter()
        build_index_resumable(docs, idx, buckets=BUCKETS)
        compressed_s = time.perf_counter() - t
    with R.tracer.span("positional.build"), R.group(groups[1]):
        t = time.perf_counter()
        write_positional_index(docs, pos)
        positional_s = time.perf_counter() - t
    for d in (idx, pos):
        R.count(_stats_ok(R, d), f"{d}/stats.json n_docs/avgdl differ from the corpus")
    if R.traced:
        R.layer("checkpoint.build_s", compressed_s, "s")
        R.layer("positional.build_s", positional_s, "s")
        R.stage_layer("checkpoint", groups[0])
        R.stage_layer("positional", groups[1])
        R.layer("compressed_index.bytes_on_disk", dir_bytes(idx), "bytes")
        R.layer("positional.bytes_on_disk", dir_bytes(pos), "bytes")
    return compressed_s, positional_s
