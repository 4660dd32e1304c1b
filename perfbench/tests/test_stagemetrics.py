"""The stage-metrics reader on toy jobs whose work is known exactly.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from stagemetrics import StageMetrics  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-stagemetrics-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # fixed partitioning: AQE would coalesce the reduce side
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_repartition_shuffle_is_counted_exactly(spark):
    sm = StageMetrics(spark.sparkContext)
    with sm.group("toy.repartition"):
        _noop_write(spark.range(0, 1000, 1, 4).repartition(3))
    m = sm.totals("toy.repartition")
    # one job: a map stage of 4 tasks writes every row once, a reduce
    # stage of 3 tasks reads every row once
    assert m["jobs"] == 1
    assert m["stages"] == 2
    assert m["tasks"] == 7
    assert m["failed_tasks"] == 0
    assert m["shuffle_write_records"] == 1000
    assert m["shuffle_read_records"] == 1000
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] > 0
    assert m["spill_bytes"] == 0
    assert m["executor_run_s"] >= 0


def test_narrow_job_has_no_shuffle(spark):
    sm = StageMetrics(spark.sparkContext)
    with sm.group("toy.narrow"):
        _noop_write(spark.range(0, 100, 1, 2))
    m = sm.totals("toy.narrow")
    assert (m["stages"], m["tasks"]) == (1, 2)
    assert m["shuffle_write_bytes"] == m["shuffle_read_bytes"] == 0


def test_groups_do_not_mix_and_other_threads_count(spark):
    """A job started from another thread inside the block carries no
    group tag but belongs to the block; jobs outside it belong to none."""
    sm = StageMetrics(spark.sparkContext)
    _noop_write(spark.range(0, 10, 1, 3))  # before any group
    with sm.group("toy.threaded"):
        t = threading.Thread(target=_noop_write, args=(spark.range(0, 10, 1, 1),))
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    with sm.group("toy.other"):
        _noop_write(spark.range(0, 10, 1, 5))
    assert sm.totals("toy.threaded")["tasks"] == 1
    assert sm.totals("toy.other")["tasks"] == 5
