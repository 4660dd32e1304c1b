"""Capture `.explain('formatted')` for the round-6 optimization targets.

Usage: python tools/explain_r06.py <suffix>   (suffix = before | after)

Writes plans/r06/<query>_<suffix>.txt. Planning-only where possible; the
index-served plans need a small index on disk, built at sf0.01 (plan
SHAPE is scale-independent)."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from sifter_mrc_search_engine_spark.session import get_spark

SUFFIX = sys.argv[1] if len(sys.argv) > 1 else "before"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = Path(__file__).resolve().parent.parent / "plans" / "r06"
OUT.mkdir(parents=True, exist_ok=True)


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def save(name: str, df) -> None:
    (OUT / f"{name}_{SUFFIX}.txt").write_text(formatted(df))
    print(f"wrote {name}_{SUFFIX}.txt")


def main() -> None:
    spark = get_spark("explain-r06", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    from sifter_mrc_search_engine_spark.operators import bm25, index_build, packing
    from sifter_mrc_search_engine_spark.operators import positional as pos
    from sifter_mrc_search_engine_spark.operators import relational as rel
    from sifter_mrc_search_engine_spark.operators.compressed_index import (
        build_compressed_index,
    )

    save("bm25_topk_flagship", bm25.bm25_brute_force(docs, "the fast query", 10))
    save("index_build_docs", index_build.build_postings(docs))
    save("index_build_pages_encode", build_compressed_index(docs))
    save("chunk_materialize", packing.materialize_chunks(docs, budget=1024))
    save("pos_build_encode", pos.build_positional_index(docs))
    save("rel_orders_page_two", rel.orders_page_two(spark, SF_DIR))

    # index-served plans need an index on disk
    idx_dir = tempfile.mkdtemp(prefix="r06_explain_idx_")
    try:
        from sifter_mrc_search_engine_spark.plans.checkpoint import (
            build_index_resumable,
        )
        from sifter_mrc_search_engine_spark.plans.query import IndexSearcher

        build_index_resumable(docs, idx_dir, buckets=64)
        searcher = IndexSearcher(spark, idx_dir, buckets=64)
        batch = ["the fast query", "spark join merge table"] * 3
        save("wand_batch", searcher.search_many(batch, 10))
        save("batch_relational", searcher.search_many_relational(batch, 10))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
