"""Spark job counts of interactive calls.

Job counts are deterministic, unlike wall time, so a pass that an
optimization removed stays removed: each call runs under a unique job
group and its jobs are counted with ``StatusTracker.getJobIdsForGroup``
(the method of ``tools/count_jobs.py``).
"""

import time

import pandas as pd

from parq_tools_spark.lazy import LazySparkDF
from parq_tools_spark.operators.compare import compare_parquet_files
from parq_tools_spark.sources.parquet_io import read_parquet


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job_count_{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lazy_construction_launches_no_job(spark, wide_tables):
    path = wide_tables["wide_1"]
    assert _jobs(spark, lambda: LazySparkDF(spark, path)) == 0
    # shape costs exactly what a plain count of the file costs
    lazy = LazySparkDF(spark, path)
    plain = _jobs(spark, lambda: read_parquet(spark, path).count())
    assert _jobs(spark, lambda: lazy.shape) == plain


def test_compare_equal_pair_job_count(spark, wide_tables, tmp_path):
    path = wide_tables["wide_1"]
    shuffled = str(tmp_path / "wide_1_reversed.parquet")
    pd.read_parquet(path).iloc[::-1].to_parquet(shuffled, index=False)
    compare_parquet_files(spark, path, shuffled)  # warm the file listing
    jobs = _jobs(spark, lambda: compare_parquet_files(spark, path, shuffled))
    # two counts, two fingerprint aggregations and a grouped full-outer
    # join ran 14 jobs here; one tagged counts+fingerprints union and
    # one signed union-groupBy run 6
    assert jobs < 14
