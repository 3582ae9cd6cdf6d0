"""The benchmark's own tests: input generation is deterministic per seed,
every check rejects a perturbed answer, and a tiny-size run of each
workload prints the metrics BENCHMARK.json declares.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench import reference as R  # noqa: E402
from perfbench.workloads import Check  # noqa: E402

WORKLOADS = ["cluster_graph", "graph_loops", "curate_lakehouse"]


def _tree_bytes(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = fh.read()
    return out


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, ma = gen.generate(str(tmp_path / "a"), workload, 7, "tiny")
    b, mb = gen.generate(str(tmp_path / "b"), workload, 7, "tiny")
    c, mc = gen.generate(str(tmp_path / "c"), workload, 8, "tiny")
    assert ma == mb
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


def test_generator_caches_by_seed(tmp_path):
    a, _ = gen.generate(str(tmp_path), "graph_loops", 1, "tiny")
    stamp = os.path.getmtime(os.path.join(a, "edges.parquet"))
    again, _ = gen.generate(str(tmp_path), "graph_loops", 1, "tiny")
    assert again == a and os.path.getmtime(os.path.join(a, "edges.parquet")) == stamp


def test_parquet_inputs_have_many_row_groups(tmp_path):
    import pyarrow.parquet as pq

    d, _ = gen.generate(str(tmp_path), "cluster_graph", 1, "tiny")
    assert pq.ParquetFile(os.path.join(d, "embeddings.parquet")).num_row_groups == gen.ROW_GROUPS


def test_chain_depths_straddle_the_cap(tmp_path):
    import pyarrow.parquet as pq

    d, m = gen.generate(str(tmp_path), "graph_loops", 1, "full")
    e = pq.read_table(os.path.join(d, "edges.parquet"))
    src, dst = e.column("src").to_numpy(), e.column("dst").to_numpy()
    comp = R.components(m["vertices"], src, dst)
    chain = np.arange(m["vertices"]) < m["chain_vertices"]
    depth = np.bincount(comp[chain]) - 1
    depth = depth[depth >= 0]
    assert (depth > m["cc_cap"]).any() and (depth <= m["cc_cap"]).any()


def test_planted_pairs_are_near_duplicates(tmp_path):
    _, m = gen.generate(str(tmp_path), "curate_lakehouse", 3, "tiny")
    texts = dict(m["batch_texts"])
    assert m["planted_within"]
    assert min(R.jaccard(texts[a], texts[b]) for a, b in m["planted_within"]) >= 0.7
    assert all(texts[a] == texts[b] for a, b in m["planted_exact"])


# ---------------------------------------------------------------------------
# references and checks
# ---------------------------------------------------------------------------

# a path 0-1-2-3, a pair 4-5 and an isolated vertex 6
SRC = np.array([0, 1, 2, 4])
DST = np.array([1, 2, 3, 5])
N = 7


def rows(col, values):
    return [{"id": i, col: v} for i, v in enumerate(values)]


def test_components_reference_and_check():
    ref = R.components(N, SRC, DST)
    assert ref.tolist() == [0, 0, 0, 0, 4, 4, 6]
    deep = np.array([True] * 4 + [False] * 3)
    assert R.check_components(rows("component", ref), ref, deep)[0]
    # a partial fixpoint on the deep chain: wrong, but the known defect
    partial = ref.copy()
    partial[3] = 1
    ok, _detail, only_deep = R.check_components(rows("component", partial), ref, deep)
    assert not ok and only_deep
    # a wrong label off the deep chains is not excused
    wrong = ref.copy()
    wrong[5] = 5
    ok, _detail, only_deep = R.check_components(rows("component", wrong), ref, deep)
    assert not ok and not only_deep
    assert not R.check_components(rows("component", ref)[:-1], ref, deep)[0]


def test_pagerank_reference_and_check():
    ref = R.pagerank(N, SRC, DST, 0.85, 50, 1e-12)
    assert abs(ref.sum() - 1.0) < 1e-9
    assert R.check_pagerank(rows("rank", ref), ref)[0]
    bumped = ref.copy()
    bumped[2] *= 1.001
    assert not R.check_pagerank(rows("rank", bumped), ref)[0]


def test_label_propagation_reference_and_check():
    ref = R.label_propagation(N, SRC, DST, 10)
    assert ref[6] == 6 and ref[4] == ref[5] == 4
    assert R.check_labels(rows("community", ref), ref, "community")[0]
    moved = ref.copy()
    moved[0] = 6
    assert not R.check_labels(rows("community", moved), ref, "community")[0]


def test_bfs_reference_and_check():
    ref = R.bfs(N, SRC, DST, [0])
    assert ref.tolist() == [0, 1, 2, 3, -1, -1, -1]
    got = [{"id": i, "dist": None if d < 0 else d} for i, d in enumerate(ref)]
    assert R.check_bfs(got, ref)[0]
    got[3]["dist"] = 2
    assert not R.check_bfs(got, ref)[0]


def test_kmeans_check():
    assert R.check_kmeans({10: 4, 11: 6}, 10, 2)[0]
    assert not R.check_kmeans({10: 4, 11: 5}, 10, 2)[0]
    assert not R.check_kmeans({10: 4, 11: 3, 12: 3}, 10, 2)[0]


def test_near_dup_check():
    a = "the graph node edge spark query table batch crawl index"
    b = "the graph node edge spark query table batch crawl shard"
    c = "merge commit schema block page frame vector cluster stream token"
    texts = {1: a, 2: b, 3: c}
    j = round(R.jaccard(a, b), 6)
    assert R.check_near_dups([(1, 2, j)], [(1, 2)], texts, texts)[0]
    # missed planted pair: recall 0
    ok, _d, excused = R.check_near_dups([], [(1, 2)], texts, texts)
    assert not ok and not excused
    # a reported pair below the threshold
    assert not R.check_near_dups([(1, 2, j), (1, 3, 0.9)], [(1, 2)], texts, texts)[0]
    # a wrong Jaccard value
    assert not R.check_near_dups([(1, 2, j - 0.1)], [(1, 2)], texts, texts)[0]


def test_clean_keep_reference():
    good = "the graph node and the edge of a spark query in the table for it " * 2
    docs = {5: good, 3: good, 9: "graph node edge spark query table batch crawl index shard",
            7: "der die das und ist nicht ein zu mit den graph node"}
    assert R.clean_keep(docs) == {3}


def test_check_known_defect_excuse():
    failed = Check("op", lambda: (False, "bad", True), known_defect="why").run()
    assert not failed["ok"] and failed["known_defect"] == "why"
    unexcused = Check("op", lambda: (False, "bad", False), known_defect="why").run()
    assert not unexcused["ok"] and unexcused["known_defect"] is None
    raised = Check("op", lambda: 1 / 0).run()
    assert not raised["ok"] and "ZeroDivisionError" in raised["detail"]


# ---------------------------------------------------------------------------
# smoke runs
# ---------------------------------------------------------------------------


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_tiny_traced_run_prints_every_per_layer_metric():
    res = _run("graph_loops", 1)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["graph_algos.components_jobs"]["value"] > 0
    with open(os.path.join(ROOT, ".perfbench", "traces", "graph_loops-s3.json")) as f:
        artifact = json.load(f)
    spans = artifact["spans"]
    assert {"id", "name", "parent", "run_id", "start", "end", "self_s"} <= set(spans[0])
    assert any(s["name"] == "graph_algos.pagerank" and s.get("spark.jobs", 0) > 0
               for s in spans)


def test_refuses_to_run_without_the_package(tmp_path):
    res = _run("graph_loops", 0, cwd=str(tmp_path))
    assert res.returncode != 0
    assert res.stdout.strip() == ""
