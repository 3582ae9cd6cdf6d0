"""Seeded input generator for the three benchmark workloads.

Everything here is plain numpy/pyarrow plus the package's Avro container
encoder: the package under test only ever sees the files written below.
Inputs are cached per (workload, size, seed, GEN_VERSION) so that input
generation never counts towards a run's set-up time.

Layout choices that matter for the measurements:

* every parquet file is written with ROW_GROUPS row groups, so a scan
  splits across all cores instead of running on one;
* the batch documents go out as several zstd Avro shards, the format a
  crawler lands, so each pass decodes them through ``sources.avro``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
ROW_GROUPS = 16

# Sizes per workload. "full" is what the benchmark measures; "tiny" keeps
# the same shape at a size the smoke test can afford.
SIZES = {
    "cluster_graph": {
        "full": {"points": 3000, "dim": 16, "k": 6},
        "tiny": {"points": 600, "dim": 8, "k": 3},
    },
    "graph_loops": {
        # chain depths straddle cc_cap: chains deeper than the cap need
        # more rounds than connected_components is allowed to run
        "full": {"chains": 120, "cc_cap": 6, "hubs": 800, "hub_edges": 3200, "sources": 2,
                 "bfs_depth": 3},
        "tiny": {"chains": 12, "cc_cap": 4, "hubs": 60, "hub_edges": 200, "sources": 2,
                 "bfs_depth": 3},
    },
    "curate_lakehouse": {
        "full": {"history": 1000, "batch": 300, "shards": 4, "table": 300},
        "tiny": {"history": 200, "batch": 60, "shards": 2, "table": 100},
    },
}

# English-looking vocabulary: the stopwords make clean_corpus keep most
# documents; the content words keep shingle sets of unrelated documents
# nearly disjoint.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
CONTENT = [
    f"{p}{s}"
    for p in ("graph", "node", "edge", "spark", "query", "table", "batch", "crawl",
              "index", "shard", "token", "vector", "cluster", "stream", "merge",
              "commit", "schema", "block", "page", "frame")
    for s in ("", "s", "er", "ing", "ed", "ly", "ion", "al", "ish", "ware")
]


def _write_parquet(table: pa.Table, path: str) -> None:
    rows = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows)


def _document(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(40, 90))
    words = rng.choice(CONTENT, size=n)
    stops = rng.random(n) < 0.25
    words[stops] = rng.choice(STOPWORDS, size=int(stops.sum()))
    return list(words)


def _near_copy(words: list[str], rng: np.random.Generator, edits: int) -> list[str]:
    """Replace ``edits`` single words: each edit touches at most 3 of the
    word 3-gram shingles, so few edits keep the Jaccard well above 0.5."""
    out = list(words)
    for pos in rng.choice(len(out), size=edits, replace=False):
        out[pos] = str(rng.choice(CONTENT))
    return out


def gen_cluster_graph(out: str, rng: np.random.Generator, points: int, dim: int, k: int) -> dict:
    """Overlapping Gaussian blobs in an ``embeddings``-schema parquet:
    (vec_id long, embedding array<float>, label int)."""
    centers = rng.normal(0.0, 1.0, size=(k, dim))
    labels = rng.integers(0, k, size=points)
    # noise comparable to the centre spread: blobs overlap, so Lloyd's
    # loop needs several iterations before the counts settle
    vecs = centers[labels] + rng.normal(0.0, 0.9, size=(points, dim))
    emb = pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32()))
    table = pa.table({
        "vec_id": pa.array(np.arange(points, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })
    _write_parquet(table, os.path.join(out, "embeddings.parquet"))
    return {"points": points, "k": k}


def gen_graph_loops(
    out: str, rng: np.random.Generator, chains: int, cc_cap: int, hubs: int,
    hub_edges: int, sources: int, bfs_depth: int,
) -> dict:
    """A forest of chains plus one skewed random graph.

    Chain ids ascend along the chain, so min-label propagation needs
    exactly ``depth`` rounds to settle a chain of ``depth`` edges. Depths
    are drawn from [cc_cap/2, 3*cc_cap/2]: about half the chains are
    deeper than the cap. The random graph draws edge sources from a Zipf
    law, so a few hubs hold most of the edges (skewed shuffle keys)."""
    src, dst = [], []
    vid = 0
    for _ in range(chains):
        depth = int(rng.integers(cc_cap // 2, 3 * cc_cap // 2 + 1))
        ids = np.arange(vid, vid + depth + 1, dtype=np.int64)
        src.append(ids[:-1])
        dst.append(ids[1:])
        vid += depth + 1
    base = vid
    a = (rng.zipf(1.8, size=hub_edges) - 1) % hubs
    b = rng.integers(0, hubs, size=hub_edges)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    src.append(pairs[:, 0].astype(np.int64) + base)
    dst.append(pairs[:, 1].astype(np.int64) + base)
    # a path of bfs_depth edges whose first vertex is a BFS source: the
    # hub graph's eccentricity varies by seed (2 or 3), the path's does
    # not, so shortest_paths runs the same number of rounds on every seed
    path = np.arange(base + hubs, base + hubs + bfs_depth + 1, dtype=np.int64)
    src.append(path[:-1])
    dst.append(path[1:])
    n = int(path[-1]) + 1
    _write_parquet(pa.table({"id": pa.array(np.arange(n, dtype=np.int64))}),
                   os.path.join(out, "vertices.parquet"))
    _write_parquet(pa.table({"src": pa.array(np.concatenate(src)),
                             "dst": pa.array(np.concatenate(dst))}),
                   os.path.join(out, "edges.parquet"))
    # BFS sources: the biggest hubs, so every source reaches the hub graph
    hub_deg = np.bincount(pairs.ravel(), minlength=hubs)
    srcs = (np.argsort(-hub_deg, kind="stable")[:sources] + base).tolist() + [int(path[0])]
    return {"vertices": int(n), "chain_vertices": int(base), "sources": [int(s) for s in srcs],
            "cc_cap": cc_cap}


AVRO_SCHEMA = {
    "type": "record",
    "name": "CrawlDoc",
    "fields": [{"name": "doc_id", "type": "long"}, {"name": "text", "type": "string"}],
}


def gen_curate_lakehouse(
    out: str, rng: np.random.Generator, history: int, batch: int, shards: int, table: int,
) -> dict:
    """History parquet plus one crawl batch as zstd Avro shards.

    Planted in the batch, by construction (ids are batch-relative):
      * near-copies of history documents (cross-corpus near-dups),
      * near-copies of earlier batch documents (within-batch near-dups),
      * exact copies of earlier batch documents (exact dups).
    """
    from graph_db_clustering_spark.sources.avro import encode_container

    hist_words = [_document(rng) for _ in range(history)]
    hist_ids = np.arange(history, dtype=np.int64)
    batch_base = 1_000_000
    words: list[list[str]] = []
    cross, within, exact = [], [], []
    for i in range(batch):
        doc_id = batch_base + i
        r = rng.random()
        if r < 0.30:
            h = int(rng.integers(history))
            words.append(_near_copy(hist_words[h], rng, 2))
            cross.append([doc_id, h])
        elif r < 0.50 and i > 0:
            j = int(rng.integers(i))
            words.append(_near_copy(words[j], rng, 2))
            within.append([batch_base + j, doc_id])
        elif r < 0.55 and i > 0:
            j = int(rng.integers(i))
            words.append(list(words[j]))
            exact.append([batch_base + j, doc_id])
        else:
            words.append(_document(rng))
    texts = [" ".join(w) for w in words]
    _write_parquet(pa.table({"doc_id": pa.array(hist_ids),
                             "text": pa.array([" ".join(w) for w in hist_words])}),
                   os.path.join(out, "history.parquet"))
    shard_dir = os.path.join(out, "batch")
    os.makedirs(shard_dir)
    for s, idx in enumerate(np.array_split(np.arange(batch), shards)):
        rows = [{"doc_id": batch_base + int(i), "text": texts[i]} for i in idx]
        with open(os.path.join(shard_dir, f"part-{s:03d}.avro"), "wb") as f:
            f.write(encode_container(AVRO_SCHEMA, rows, codec="zstandard"))
    return {"table_rows": table, "batch_texts": [[batch_base + i, t] for i, t in enumerate(texts)],
            "planted_cross": cross, "planted_within": within, "planted_exact": exact}


GENERATORS = {
    "cluster_graph": gen_cluster_graph,
    "graph_loops": gen_graph_loops,
    "curate_lakehouse": gen_curate_lakehouse,
}


def generate(cache_root: str, workload: str, seed: int, size: str = "full") -> tuple[str, dict]:
    """Return (input dir, manifest) for ``workload`` at ``seed``,
    generating into ``cache_root`` on the first call. The same
    (workload, size parameters, seed, GEN_VERSION) always yields the
    same files."""
    params = SIZES[workload][size]
    key = hashlib.md5(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(cache_root, f"{workload}-{size}-{key}-s{seed}-v{GEN_VERSION}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(SIZES).index(workload)])
    manifest = GENERATORS[workload](tmp, rng, **params)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest
