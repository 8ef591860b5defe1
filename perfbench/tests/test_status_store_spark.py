"""The status-store reader against a live local Spark: a span's job
group must hold exactly the jobs its call ran, with their stage
counters."""

import pytest

pyspark = pytest.importorskip("pyspark")

from perfbench.spans import JvmStatusStore, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_span_collects_its_jobs_and_stage_counters(spark):
    sc = spark.sparkContext
    tr = Tracer(True, "pbtest")
    tr.attach(sc)
    spark.range(10).count()  # outside any span: must not be attributed
    with tr.span("operators.wand", family="search") as sp:
        rows = spark.range(0, 20000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    tr.collect()
    assert len(rows) == 7
    store = JvmStatusStore(sc)
    assert sp.jobs == len(store.job_ids(sp.group)) >= 1
    assert sp.counters["tasks"] >= 4
    assert sp.counters["shuffle_write_bytes"] > 0
    assert sp.counters["shuffle_read_bytes"] == sp.counters["shuffle_write_bytes"]
    assert sp.counters["task_run_s"] >= 0 and sp.job_intervals
    assert all(sp.start - 1 <= a <= b <= sp.end + 1 for a, b in sp.job_intervals)
    # the group is cleared after the span: later jobs belong to nobody
    spark.range(5).count()
    assert len(store.job_ids(sp.group)) == sp.jobs
