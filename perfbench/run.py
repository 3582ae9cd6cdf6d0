#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --cores 2 --shuffle-partitions 2 \
        --workload cluster_graph --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository (the package is
imported from the working directory). One run:

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench/inputs``; not part of ``setup_s``);
2. starts Spark with a fixed core count, shuffle partition count,
   driver heap and JIT mode, builds the workload's initial state and
   runs WARMUP_PASSES untimed passes (this is ``setup_s``);
3. runs timed passes until ``--seconds`` have passed (at least
   MIN_PASSES), releasing every operator pin between passes;
4. checks every operation's output and prints one JSON line.

With ``--trace 0`` the JSON carries the end-to-end metrics. With
``--trace 1`` timed passes alternate between untraced and traced, the
JSON carries the per-layer metrics (medians over traced passes, plus
the tracing overhead), and the spans go to
``.perfbench/traces/<workload>-s<seed>.json`` with a per-op table
beside it (``.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

WARMUP_PASSES = 1
MIN_PASSES = 2
HEAP = "2g"


def process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cluster_graph", "graph_loops", "curate_lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=2,
                    help="Spark local cores (capped at the CPU count)")
    ap.add_argument("--shuffle-partitions", type=int, default=2,
                    help="spark.sql.shuffle.partitions (capped at the core count)")
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's own smoke test")
    return ap.parse_args(argv)


def start_spark(cores: int, partitions: int, state: str):
    """A session from the package's own factory, with the noise controls
    applied through the environment: fixed cores and shuffle partitions,
    a driver heap pinned by -Xms = -Xmx, client-compiler-only JIT (C2
    keeps compiling for minutes, so pass times would keep drifting), and
    every scratch directory inside the checkout."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    java_opts = f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(state, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    from graph_db_clustering_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=partitions)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from perfbench.trace import _children, _descendants

    gateway = SparkContext._gateway
    jvm = gateway.proc
    workers = _descendants(jvm.pid, _children())
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in workers):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark's Python workers did not exit")
        time.sleep(0.05)


class Ctx:
    """What a workload needs: the session, the tracer and its paths."""

    def __init__(self, spark, tracer, inputs: str, manifest: dict, work: str, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.manifest = manifest
        self.work = work
        self.trace = trace


def run_pass(ctx, workload, p: int, jvm_pid: int) -> dict:
    """One pass, timed from its first call to the release of its pins.
    Checks run after the clock stops."""
    from graph_db_clustering_spark.operators import pins
    from perfbench.trace import cpu_sample

    tr = ctx.tracer
    workload.reset()
    cpu0 = cpu_sample(jvm_pid)
    with tr.span("pass") as sp:
        checks = workload.run_pass(p)
        pins.release_all()
    cpu = cpu_sample(jvm_pid) - cpu0
    if tr.enabled:
        sp.counters["pins.persisted_rdds"] = ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
    return {"pass": p, "traced": tr.enabled, "span": sp.id, "seconds": sp.duration,
            "cpu_s": cpu.total, "checks": [c.run() for c in checks]}


# --- per-layer metrics ------------------------------------------------------


def _layer_metrics() -> dict:
    """name -> (unit, f(spans of one traced pass, pass span) -> value)."""

    def total(name, key="self_s"):
        return lambda spans, _p: sum(s.get(key, 0) for s in spans if s["name"] == name)

    def pass_total(key):
        return lambda spans, _p: sum(s.get(key, 0) for s in spans)

    def on_pass(key):
        return lambda _spans, p: p.get(key, 0)

    def both(a, b, key):
        return lambda spans, p: total(a, key)(spans, p) + total(b, key)(spans, p)

    m = {
        "catalog.load_s": ("s", total("catalog.load")),
        "kmeans.fit_s": ("s", total("kmeans.fit")),
        "kmeans.iterations": ("count", total("kmeans.fit", "kmeans.iterations")),
        "kmeans.jobs": ("count", total("kmeans.fit", "spark.jobs")),
        "graph_store.save_s": ("s", total("graph_store.save")),
        "graph_store.load_s": ("s", total("graph_store.load")),
        "graph_store.bytes_mb": ("MiB", total("graph_store.save", "graph_store.bytes_mb")),
        "cypher.compile_s": ("s", total("cypher.compile")),
        "cypher.exec_s": ("s", total("cypher.exec")),
        "cypher.jobs": ("count", both("cypher.compile", "cypher.exec", "spark.jobs")),
    }
    for op in ("components", "pagerank", "lpa", "paths"):
        m[f"graph_algos.{op}_s"] = ("s", total(f"graph_algos.{op}"))
        m[f"graph_algos.{op}_jobs"] = ("count", total(f"graph_algos.{op}", "spark.jobs"))
    m.update({
        "pins.persisted_rdds": ("count", on_pass("pins.persisted_rdds")),
        "dedup.cross_s": ("s", total("dedup.cross")),
        "dedup.minhash_s": ("s", total("dedup.minhash")),
        "dedup.pairs_per_candidate": ("ratio", total("dedup.cross", "dedup.pairs_per_candidate")),
        "text.clean_s": ("s", total("text.clean")),
        "avro.read_s": ("s", total("avro.read")),
        "python_workers.cpu_s": ("s", on_pass("python_workers.cpu_s")),
        "hudi.upsert_s": ("s", total("hudi.upsert")),
        "hudi.delete_s": ("s", total("hudi.delete")),
        "hudi.snapshot_s": ("s", total("hudi.snapshot")),
        "hudi.compact_s": ("s", total("hudi.compact")),
        "hudi.bytes_written_mb": ("MiB", total("hudi.compact", "hudi.bytes_written_mb")),
        "spark.jobs": ("count", pass_total("spark.jobs")),
        "spark.stages": ("count", pass_total("spark.stages")),
        "spark.tasks": ("count", pass_total("spark.tasks")),
        "spark.shuffle_write_mb": ("MiB", pass_total("spark.shuffle_write_mb")),
        "spark.spill_mb": ("MiB", pass_total("spark.spill_mb")),
        "spark.executor_cpu_s": ("s", pass_total("spark.executor_cpu_s")),
        "spark.executor_run_s": ("s", pass_total("spark.executor_run_s")),
        "spark.gc_s": ("s", pass_total("spark.gc_s")),
        "driver.cpu_s": ("s", on_pass("driver.cpu_s")),
    })
    return m


LAYER_METRICS = _layer_metrics()


def layer_table(spans: list[dict], passes: list[dict]) -> tuple[dict, list[dict]]:
    """Per-layer medians over traced passes, and the per-op rows of the
    traced passes (one row per span below a pass)."""
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def subtree(root: int) -> list[dict]:
        out, todo = [], list(by_parent.get(root, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent.get(s["id"], []))
        return out

    values: dict = {k: [] for k in LAYER_METRICS}
    rows = []
    for ps in passes:
        if not ps["traced"]:
            continue
        pass_span = spans[ps["span"]]
        below = subtree(pass_span["id"])
        for k, (_unit, f) in LAYER_METRICS.items():
            # the pass span carries the jobs run between its child spans
            values[k].append(f(below + [pass_span], pass_span))
        ordered = sorted(below, key=lambda s: s["start"]) + [pass_span]
        rows.extend({"pass": ps["pass"], **s} for s in ordered)
    medians = {k: statistics.median(v) for k, v in values.items()}
    return medians, rows


def traced_metrics(spans: list[dict], passes: list[dict], probes: list[float]) -> dict:
    """Every per-layer metric: the layer medians, the host probe and the
    tracing overhead (median traced pass minus median untraced pass)."""
    layer, _rows = layer_table(spans, passes)
    units = {k: u for k, (u, _f) in LAYER_METRICS.items()}
    out = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    traced = [ps["seconds"] for ps in passes if ps["traced"]]
    untraced = [ps["seconds"] for ps in passes if not ps["traced"]]
    out["host.probe_s"] = {"value": statistics.median(probes), "unit": "s"}
    out["trace.overhead_s"] = {
        "value": statistics.median(traced) - statistics.median(untraced), "unit": "s"}
    return out


OP_COLUMNS = ["self_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb",
              "driver.cpu_s", "jvm.cpu_s", "python_workers.cpu_s"]


def markdown(workload: str, seed: int, metrics: dict, rows: list[dict]) -> str:
    out = [f"# Traced run: {workload}, seed {seed}", "",
           "## Per-layer metrics (median over traced passes)", "",
           "| metric | value | unit |", "| --- | --- | --- |"]
    out += [f"| {k} | {v['value']:.6g} | {v['unit']} |" for k, v in metrics.items()]
    last = max(r["pass"] for r in rows)
    out += ["", f"## Per-op counters (traced pass {last})", "",
            "| op | " + " | ".join(OP_COLUMNS) + " |",
            "| --- |" + " --- |" * len(OP_COLUMNS)]
    for r in rows:
        if r["pass"] == last:
            cells = [f"{r.get(c, 0):.4g}" for c in OP_COLUMNS]
            out.append(f"| {r['name']} | " + " | ".join(cells) + " |")
    return "\n".join(out) + "\n"


# --- main -------------------------------------------------------------------


def _secs(passes: list[dict]) -> str:
    return ", ".join(f"{ps['seconds']:.2f}" for ps in passes)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graph_db_clustering_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (graph_db_clustering_spark/ "
              "not found in the working directory)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from perfbench import gen
    from perfbench.trace import Tracer, host_probe, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    cores = max(1, min(args.cores, os.cpu_count() or 1))
    partitions = max(1, min(args.shuffle_partitions, cores))
    state = os.path.join(root, ".perfbench")
    t0 = time.perf_counter()
    inputs, manifest = gen.generate(os.path.join(state, "inputs"), args.workload, args.seed,
                                    args.size)
    gen_s = time.perf_counter() - t0

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    spark = start_spark(cores, partitions, state)
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        tracer = Tracer(spark, jvm_pid, run_id)
        ctx = Ctx(spark, tracer, inputs, manifest, work, bool(args.trace))
        workload = WORKLOADS[args.workload](ctx)
        workload.setup()
        warm = [run_pass(ctx, workload, p, jvm_pid) for p in range(WARMUP_PASSES)]
        setup_s = process_age() - gen_s

        passes, probes = [], []
        start = time.perf_counter()
        p = WARMUP_PASSES
        while len(passes) < MIN_PASSES * (1 + args.trace) or (
            time.perf_counter() - start < args.seconds
        ):
            probes.append(host_probe())
            tracer.enabled = bool(args.trace) and len(passes) % 2 == 1
            passes.append(run_pass(ctx, workload, p, jvm_pid))
            tracer.enabled = False
            p += 1
        measured_s = time.perf_counter() - start
        jvm_rss = peak_rss_mb(jvm_pid)
        driver_rss = peak_rss_mb(os.getpid())
        spans = tracer.dump()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    checks = [c for ps in passes for c in ps["checks"]]
    failed = [c for c in checks if not c["ok"]]
    unexcused = [c for c in failed if not c["known_defect"]]
    unexcused += [c for ps in warm for c in ps["checks"] if not c["ok"] and not c["known_defect"]]
    for c in {(c["op"], c["detail"], c["known_defect"]) for c in failed}:
        print(f"perfbench: check failed: {c[0]}: {c[1]}"
              + (f" (known defect: {c[2]})" if c[2] else ""), file=sys.stderr)

    untraced = [ps for ps in passes if not ps["traced"]]
    if args.trace:
        metrics = traced_metrics(spans, passes, probes)
        out = os.path.join(state, "traces", f"{args.workload}-s{args.seed}")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out + ".json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "run_id": run_id,
                       "cores": cores, "shuffle_partitions": partitions,
                       "metrics": metrics, "passes": passes, "spans": spans}, f, indent=1)
        with open(out + ".md", "w") as f:
            f.write(markdown(args.workload, args.seed, metrics, layer_table(spans, passes)[1]))
    else:
        times = [ps["seconds"] for ps in untraced]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(times), "unit": "s"},
            "pass_best_s": {"value": min(times), "unit": "s"},
            "cpu_s": {"value": statistics.median(ps["cpu_s"] for ps in untraced), "unit": "s"},
            "ok_frac": {"value": 1 - len(failed) / len(checks), "unit": "ratio"},
            "jvm_peak_rss_mb": {"value": jvm_rss, "unit": "MiB"},
            "driver_peak_rss_mb": {"value": driver_rss, "unit": "MiB"},
        }
    # every run leaves a record of its host conditions beside its result
    os.makedirs(os.path.join(state, "runs"), exist_ok=True)
    with open(os.path.join(state, "runs", run_id + ".json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "cores": cores, "shuffle_partitions": partitions, "setup_s": setup_s,
                   "warmup_s": [ps["seconds"] for ps in warm],
                   "pass_s": [ps["seconds"] for ps in passes],
                   "pass_cpu_s": [ps["cpu_s"] for ps in passes], "host_probe_s": probes,
                   "loadavg": os.getloadavg(), "metrics": metrics,
                   "failed_checks": failed}, f, indent=1)
    print(f"perfbench: {args.workload} seed {args.seed}: {len(passes)} timed passes in "
          f"{measured_s:.1f} s ({_secs(passes)}) after "
          f"{WARMUP_PASSES} warm-up passes ({_secs(warm)}); "
          f"set-up {setup_s:.1f} s; cores {cores}, shuffle "
          f"partitions {partitions}; host probe median {statistics.median(probes):.4f} s; "
          f"load average {os.getloadavg()[0]:.2f}", file=sys.stderr)
    print(json.dumps({"correct": not unexcused, "attempted": len(checks),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
