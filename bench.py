"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink (distributed execution,
no driver collect) after a warm-up pass of the catalog.
"""

from __future__ import annotations

import json
import os
import sys
import time

from graph_db_clustering_spark.catalog import TABLES, load_table
from graph_db_clustering_spark.queries.corpus import QUERIES
from graph_db_clustering_spark.session import get_spark

HEADLINE = [
    "q05",  # pushdown-heavy scan filter
    "q08",  # per-left argmin (1-D nearest neighbor, sorted-search plan)
    "q10",  # multi-way join + agg (TPC-H flavor)
    "q16",  # cosine top-1 over embeddings (HOF expressions)
    "q24",  # exact percentile
    "q27",  # running-sum window
    "q39",  # tumbling window agg
    "q41",  # dedup agg
    "q42_sessions",  # gap sessionization (two windows + agg)
    "dedup_exact",  # content-hash dedup over documents
    "dedup_minhash",  # hashed shingles -> minhash -> LSH bands -> verify
    "text_stats",  # per-doc text analysis (HOF expressions)
    "similarity_topk",  # brute-force cosine top-k baseline
    "knn_classify",  # top-k + majority vote
    "image_features",  # multimodal pandas-UDF pipeline (decode+stats)
    "ann_ivfpq",  # IVF-PQ build + ADC scan + re-rank (compressed ANN path)
    "ann_ivfpq_serve",  # query latency vs a SAVED index: load + search only
    "pipeline_corpus",  # dedup -> quality -> lang-id -> token budget, one scan
    "pack_chunks",  # two-pass distributed prefix-sum sequence packing
    "cross_dedup",  # new-crawl batch vs indexed history (band join + verify)
    "html_extract",  # HTML -> text codegen regexp chain (crawl hot path)
    "warc_ingest",  # WARC container roundtrip: shards -> records -> text
    "bpe_tokens",  # BPE train (word-count shuffle) + Arrow encode pass
    "nb_language",  # Naive Bayes train + score (token-stream aggregates)
    "dsir_weights",  # DSIR hashed-feature distributions + per-doc weights
    "pca_embed",  # one moments pass + driver eigh + codegen projection
    "gmm_embed",  # 5 EM rounds: codegen E-step, k*d-key M-step aggregate
    "graph_louvain",  # modularity sweeps + community contraction levels
    # round 13 (VERDICT r12 #4): first lakehouse row in the headline
    # set — MoR create + log-block upsert/delete + snapshot merge, so
    # a regression in the newest heavy machinery shows every round,
    # not only in scale runs
    "hudi_mor_snapshot",
]


def ivfpq_serve_setup(spark, sf_dir: str) -> str:
    """Build + persist the IVF-PQ index ONCE, outside the timed region.

    ann_ivfpq times the one-shot build+search (dominated by driver
    codebook training — an O(1)-per-corpus cost a real deployment pays
    once); the number that matters at scale is query latency against the
    saved index, which ann_ivfpq_serve times via the closure below
    (VERDICT r5 'What's missing' #1)."""
    import atexit
    import shutil
    import tempfile

    from graph_db_clustering_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    # pid-keyed: concurrent driver/judge bench runs must not share an
    # index directory; removed at exit so nothing accumulates in /tmp
    root = os.path.join(tempfile.gettempdir(), f"gdc_bench_ivfpq_{os.getpid()}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = os.path.join(root, "index")
    model, encoded = similarity.ivfpq_build(emb, cells=16, m=8)
    similarity.ivfpq_save(model, encoded, path)
    return path


def ivfpq_serve_query(index_path: str):
    """Timed serve path: ivfpq_load + ivfpq_search for a 64-query batch —
    no training or encoding jobs (pinned by test_llmdata's no-retraining
    poison test)."""

    def run(spark, sf_dir):
        from pyspark.sql import functions as F

        from graph_db_clustering_spark.operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        model, codes = similarity.ivfpq_load(spark, index_path)
        q = emb.filter(F.col("vec_id") < 64)
        return similarity.ivfpq_search(
            q, model, codes, emb, k=5, nprobe=4, refine=4
        )

    return run


def warm_python_workers(spark) -> None:
    """Spawn and warm the Arrow/pandas-UDF worker pool before timing.

    The first pandas-UDF job pays the daemon start, one fork per core and
    each worker's first numpy/pandas/pyarrow imports. With worker reuse on
    (pinned in session.py) that is paid once per JVM, so pay it here,
    outside the timed region, with one trivial mapInPandas over every
    core's worker. Later tasks do not re-read pyspark.zip's directory:
    the worker daemon (graph_db_clustering_spark/pyworker.py) stops that."""

    def _touch(batches):
        import numpy as np  # noqa: F401 — force the heavy import in the worker

        for pdf in batches:
            yield pdf

    n = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(n * 4, numPartitions=n).mapInPandas(_touch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # quiet-host guard (VERDICT r11 Next #5, hardened from the r5
    # version): this box has measured 2-3x wall-clock swings under
    # ambient load, so a meaningful artifact needs a QUIET window —
    # 1-min loadavg < 1. Sleep-and-retry in 15 s polls until quiet or
    # the wait budget runs out; if still hot, the JSON says
    # hot_host: true so an inflated run can never masquerade as a
    # clean one. Measured FIRST — before the JVM/table/index warm-up
    # below inflates the 1-min average — so the flag blames OTHER
    # tenants, not the bench's own setup.
    quiet_load = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_LOAD", "1.0"))
    wait_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT_MAX", "240")
    )
    retried_due_to_load = False
    waited = 0.0
    while os.getloadavg()[0] > quiet_load and waited < wait_budget:
        retried_due_to_load = True
        time.sleep(15)
        waited += 15
    load_before = os.getloadavg()

    spark = get_spark("gdc-spark-bench")
    # warm-up: touch every table so JVM/codegen startup isn't billed to q1,
    # and pre-fork the Python worker pool so the first pandas-UDF query
    # isn't billed for daemon spawn + numpy import (VERDICT r3 item 6)
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    warm_python_workers(spark)

    # min of 3 runs per query: the first run pays one-off codegen/JIT and
    # absorbs host noise; min is the standard noise-resistant estimator
    # for wall-clock microbenchmarks. All runs execute the full plan.
    # This box has measured 2-3x swings on identical code under ambient
    # load (VERDICT r2 perf section), so the JSON also records loadavg
    # before/after and the core count — a hot host is then attributable
    # from the artifact instead of argued about.
    #
    # Variance hardening (VERDICT r6 Next #2): the most expensive rows
    # showed min-of-3 driver-vs-judge spread approaching the 2x rule's
    # margin (cross_dedup 2.4 vs 3.5s), so they get min-of-5, and EVERY
    # row reports its observed spread (max/min across its runs) so an
    # adjudicator can tell a real regression from run-to-run noise
    # directly in the artifact.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    heavy_runs = int(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_RUNS", "5"))
    HEAVY = {"cross_dedup", "ann_ivfpq", "ann_ivfpq_serve"}
    serve_index = ivfpq_serve_setup(spark, sf_dir)
    queries = dict(QUERIES)
    queries["ann_ivfpq_serve"] = ivfpq_serve_query(serve_index)

    def time_query(name: str, n: int) -> tuple[float, float]:
        samples = []
        for _ in range(n):
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        return round(min(samples), 3), round(max(samples) / min(samples), 2)

    # CONTROL row (VERDICT r8 Next #1): a pinned trivial query — the q01
    # full node scan, code frozen since round 1 — timed min-of-3 BEFORE
    # and AFTER the headline set. Its anchor is committed in BASELINE.md;
    # an adjudicator divides each headline ratio by the control ratio to
    # separate ambient host drift (which inflates the control equally)
    # from a real plan regression (which doesn't touch the control).
    control_first, control_first_spread = time_query("q01", runs)

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        timings[name], spreads[name] = time_query(
            name, heavy_runs if name in HEAVY else runs
        )

    control_last, control_last_spread = time_query("q01", runs)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spreads,
                "control": {
                    "query": "q01",
                    "first": control_first,
                    "first_spread": control_first_spread,
                    "last": control_last,
                    "last_spread": control_last_spread,
                },
                "sf": sf,
                "method": f"min_of_{runs}_runs_heavy_{heavy_runs}",
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in os.getloadavg()],
                "cpus": os.cpu_count(),
                "retried_due_to_load": retried_due_to_load,
                "waited_for_quiet_sec": round(waited),
                "hot_host": load_before[0] > quiet_load,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
