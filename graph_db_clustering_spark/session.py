"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every config below is
chosen to also be the right default on a large multi-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (vectorized Python crossings), UTC session time zone
(determinism), and the nanosecond-parquet legacy flag needed to read the
`events` table (see FIXTURES.md load caveat).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs we also apply defensively to externally-created
# sessions (the verify driver passes its own SparkSession into the entry
# points; see catalog.ensure_confs).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores timestamp[ns]; Spark 4 refuses it without this.
    # The catalog rebuilds a proper TimestampType column after load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without tz metadata (isAdjustedToUTC=false) read as
    # TIMESTAMP_NTZ by default in Spark 4, which rejects numeric casts and
    # diverges from the TimestampType semantics every query here was built
    # (and oracle-matched) against. Read them as session-tz timestamps
    # instead — with the UTC session zone below the wall-clock values are
    # identical, and epoch arithmetic (cast to double, unix_*) works.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Deterministic wall-clock semantics for timestamp literals/extracts.
    "spark.sql.session.timeZone": "UTC",
    # Arrow-batched transfers for every JVM<->Python crossing (pandas UDFs,
    # toPandas) — the fast path; row-pickling is the slow path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Fixed Arrow batch size: pin the default explicitly so Python-crossing
    # wall-clock doesn't silently shift with upstream default changes
    # (image_features variance investigation, VERDICT r3 item 6).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Runtime re-planning: post-shuffle coalesce, skew-join splitting,
    # broadcast conversion based on observed sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Scan parallelism: the local testdata files are single small parquet
    # files (<= ~10 MB), which the default 128 MB split size turns into 1-3
    # input partitions — serializing every downstream stage. Smaller splits
    # + a minimum split count keep all cores busy; on a real cluster with
    # 128 MB+ row groups these simply don't bind.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"
    ),
    "spark.sql.files.minPartitionNum": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # low open-cost floor so even sub-MB local files split to minPartitionNum
    # pieces (a 300 KB dim file feeding a BroadcastNestedLoopJoin expansion
    # must not serialize the whole expansion onto 1-5 cores)
    "spark.sql.files.openCostInBytes": "16384",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "graph-db-clustering-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions`` is set
    to the core count locally; on a cluster AQE coalescing makes a higher
    static value safe, so callers can override.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Reuse forked Python workers across tasks (default, pinned): a
        # fresh worker pays the fork and its first imports of numpy, pandas
        # and pyarrow again.
        .config("spark.python.worker.reuse", "true")
        # Fork the workers from our daemon: it runs pyspark.daemon, but on
        # Python < 3.12 first stops the per-task importlib.invalidate_caches()
        # from re-reading pyspark.zip's directory in every zipimporter
        # (~0.18 s of CPU per task; see pyworker.py).
        .config("spark.python.daemon.module", "graph_db_clustering_spark.pyworker")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
