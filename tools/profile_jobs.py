"""Per-headline-row Spark job/stage profile (guide §1: measure first).

For each headline bench row: run once to warm, then run again inside a
fresh job group and report how many Spark jobs / stages / tasks the row
submitted, its wall-clock, and ``py_cpu_s``: the CPU seconds that the
JVM's Python descendants (Spark's worker daemon and its forked workers)
spent during the timed run. Driver-blocking job count is the target
metric for the fusion work (each extra job costs ~0.2-0.5 s of driver
scheduling on this host and is a full pass at scale).

Usage: python tools/profile_jobs.py [row ...]   (default: all headline)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import SparkContext

from graph_db_clustering_spark.catalog import TABLES, load_table
from graph_db_clustering_spark.queries.corpus import QUERIES
from graph_db_clustering_spark.session import get_spark

import bench
from perfbench.trace import cpu_sample


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("gdc-profile-jobs")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    bench.warm_python_workers(spark)
    rows = sys.argv[1:] or bench.HEADLINE
    queries = dict(QUERIES)
    if "ann_ivfpq_serve" in rows:
        queries["ann_ivfpq_serve"] = bench.ivfpq_serve_query(
            bench.ivfpq_serve_setup(spark, sf_dir)
        )
    sc = spark.sparkContext
    st = sc.statusTracker()
    jvm_pid = SparkContext._gateway.proc.pid
    print(f"{'row':<22}{'jobs':>6}{'stages':>8}{'tasks':>8}{'wall_s':>9}{'py_cpu_s':>10}")
    for name in rows:
        bench.materialize(queries[name](spark, sf_dir))  # warm
        group = f"profile_{name}"
        sc.setJobGroup(group, name)
        cpu0 = cpu_sample(jvm_pid)
        t0 = time.perf_counter()
        bench.materialize(queries[name](spark, sf_dir))
        wall = time.perf_counter() - t0
        py_cpu = (cpu_sample(jvm_pid) - cpu0).workers
        sc.setJobGroup(None, None)
        jobs = st.getJobIdsForGroup(group)
        stages = 0
        tasks = 0
        for j in jobs:
            ji = st.getJobInfo(j)
            if ji is None:
                continue
            stages += len(ji.stageIds)
            for s in ji.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
        print(f"{name:<22}{len(jobs):>6}{stages:>8}{tasks:>8}{wall:>9.3f}{py_cpu:>10.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
