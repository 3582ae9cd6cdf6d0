"""The three benchmark workloads.

Each workload has a ``setup`` (build the initial state the passes work
on), a ``reset`` (run before each pass, outside its clock) and a
``run_pass`` that makes one fixed sequence of calls into the package's
public API. Every call sits in a span named after the layer it
exercises (``layer.what``). ``run_pass`` returns the checks for the
pass as thunks: the benchmark runs them after the pass's clock stops.

Each pass does the same work as the one before: it reads the same
inputs, and the one piece of mutable state, the Hudi table of
curate_lakehouse, is reset to its set-up state before every pass.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import reference as R


class Check:
    """One operation's output check. ``known_defect`` names a failure
    the benchmark expects at this commit: it still counts as a failed
    operation, but does not make the run's output incorrect."""

    def __init__(self, op: str, thunk, known_defect: str | None = None):
        self.op = op
        self.thunk = thunk
        self.known_defect = known_defect

    def run(self) -> dict:
        try:
            res = self.thunk()
        except Exception as e:  # a check that cannot run is a failed check
            res = (False, f"check raised {type(e).__name__}: {e}")
        ok, detail = res[0], res[1]
        excused = bool(not ok and self.known_defect and (len(res) < 3 or res[2]))
        return {"op": self.op, "ok": bool(ok), "detail": detail,
                "known_defect": self.known_defect if excused else None}


def _columns(df, want: list[str]):
    return lambda: R.check_equal("columns", list(df.columns), want)


# ---------------------------------------------------------------------------
# cluster_graph: the paper's pipeline
# ---------------------------------------------------------------------------

# The blobs overlap enough that Lloyd's loop keeps moving points past
# this many iterations, so seeds do the same number of them (a seed that
# settled sooner would show as a lower kmeans.iterations).
KMEANS_ITERS = 4

CYPHER_COUNTS = "MATCH (i:Image)-[r:CLOSEST_TO]->(c:Centroid) RETURN c, count(r)"
CYPHER_MEMBERS = (
    "MATCH (i:Image)-[:CLOSEST_TO]->(c:Centroid) WHERE ID(c)=$centroid_id RETURN i"
)
CYPHER_NAMES = "MATCH (i:Image)-[r:CLOSEST_TO]->(c:Centroid) RETURN ID(c), i.name"
CYPHER_SET = "MATCH (c:Centroid) WHERE ID(c)=$centroid_id SET c.corrcoef = $corrcoef"


class ClusterGraph:
    """Load points, k-means them, store the Image/Centroid CLOSEST_TO
    graph, reload it and query it with the reference's Cypher strings."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.k = ctx.manifest["k"]
        self.n = ctx.manifest["points"]
        self.cent_base = self.n  # centroid vertex ids follow the image ids
        self.store_path = os.path.join(ctx.work, "graph")

    def setup(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def run_pass(self, p: int) -> list[Check]:
        from pyspark.sql import functions as F

        from graph_db_clustering_spark import catalog
        from graph_db_clustering_spark.cypher import CypherSession
        from graph_db_clustering_spark.operators import kmeans
        from graph_db_clustering_spark.operators.graph import Graph, GraphStore

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        checks: list[Check] = []
        with tr.span("catalog.load"):
            pts = catalog.load_table(spark, ctx.inputs, "embeddings")
        checks.append(Check("catalog.load", _columns(pts, ["vec_id", "embedding", "label"])))

        with tr.span("kmeans.fit") as sp:
            res = kmeans.fit(pts, k=self.k, id_col="vec_id", vec_col="embedding",
                             max_iter=KMEANS_ITERS)
        sp.counters["kmeans.iterations"] = res.iterations
        counts = {self.cent_base + c: n for c, n in res.history[-1]["counts"].items()}
        checks.append(Check("kmeans.fit", lambda: R.check_kmeans(counts, self.n, self.k)))

        images = pts.select(
            F.col("vec_id").alias("id"), F.lit("Image").alias("label"),
            F.concat(F.lit("img"), F.col("vec_id")).alias("name"),
        )
        cents = res.centroids.select(
            (F.col("cid") + self.cent_base).alias("id"), F.lit("Centroid").alias("label"),
            F.concat(F.lit("c"), F.col("cid")).alias("name"),
        )
        edges = res.assignments.select(
            F.col("id").alias("src"), (F.col("cid") + self.cent_base).alias("dst"),
            F.lit("CLOSEST_TO").alias("relationship"),
            F.col("score").alias("cosine_similarity"),
        )
        store = GraphStore(spark, self.store_path)
        with tr.span("graph_store.save") as sp:
            store.save(Graph(images.unionByName(cents), edges))
        if tr.enabled:
            sp.counters["graph_store.bytes_mb"] = _dir_mb(self.store_path)
        with tr.span("graph_store.load"):
            g = store.load()
        checks.append(Check("graph_store", lambda: R.check_equal(
            "vertices, edges", (g.vertices.count(), g.edges.count()),
            (self.n + self.k, self.n))))

        session = CypherSession(g)
        c0 = min(counts)
        rows = self._cypher(session, CYPHER_COUNTS)
        got = {r["c"]["id"]: r["count(r)"] for r in rows}
        checks.append(Check("cypher.counts", lambda: R.check_equal("counts", got, counts)))

        rows = self._cypher(session, CYPHER_MEMBERS, centroid_id=c0)
        n_members = len(rows)
        checks.append(Check("cypher.members", lambda: R.check_equal(
            "members", n_members, counts[c0])))

        rows = self._cypher(session, CYPHER_NAMES)
        checks.append(Check("cypher.names", lambda: self._check_names(rows, counts)))

        value = 0.5 + p
        with tr.span("cypher.compile"):
            session.run(CYPHER_SET, centroid_id=c0, corrcoef=value)
        with tr.span("cypher.exec"):
            stored = session.graph.vertices.filter(F.col("id") == c0).select("corrcoef").collect()
        checks.append(Check("cypher.set", lambda: R.check_equal(
            "corrcoef", [r[0] for r in stored], [value])))
        return checks

    def _cypher(self, session, query: str, **params) -> list:
        tr = self.ctx.tracer
        with tr.span("cypher.compile"):
            df = session.run(query, **params)
        with tr.span("cypher.exec"):
            return df.collect()

    def _check_names(self, rows, counts: dict) -> tuple[bool, str]:
        per = {}
        names = set()
        for r in rows:
            per[r["ID(c)"]] = per.get(r["ID(c)"], 0) + 1
            names.add(r["i.name"])
        ok = per == counts and len(names) == self.n
        return ok, f"{len(rows)} rows, {len(names)} distinct names"


# ---------------------------------------------------------------------------
# graph_loops: many small rounds per operation
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_DAMPING = 0.85
PR_TOL = 1e-6
LPA_ITERS = 3


class GraphLoops:
    """Components, PageRank, label propagation and BFS over a forest of
    chains plus a skewed random graph."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.m = ctx.manifest

    def setup(self) -> None:
        v = pq.read_table(os.path.join(self.ctx.inputs, "vertices.parquet"))
        e = pq.read_table(os.path.join(self.ctx.inputs, "edges.parquet"))
        n = v.num_rows
        src = e.column("src").to_numpy()
        dst = e.column("dst").to_numpy()
        self.cc_ref = R.components(n, src, dst)
        # vertices on a chain deeper than the cap: min-label propagation
        # cannot reach them within cc_cap rounds
        pos = np.arange(n) - self.cc_ref
        depth = np.zeros(n, dtype=np.int64)
        np.maximum.at(depth, self.cc_ref, pos)
        chain = np.arange(n) < self.m["chain_vertices"]
        self.deep = chain & (depth[self.cc_ref] > self.m["cc_cap"])
        self.pr_ref = R.pagerank(n, src, dst, PR_DAMPING, PR_ITERS, PR_TOL)
        self.lpa_ref = R.label_propagation(n, src, dst, LPA_ITERS)
        self.bfs_ref = R.bfs(n, src, dst, self.m["sources"])
        self.sources = self.ctx.spark.createDataFrame(
            [(s,) for s in self.m["sources"]], "id long"
        ).localCheckpoint()

    def reset(self) -> None:
        pass

    def run_pass(self, p: int) -> list[Check]:
        from graph_db_clustering_spark import catalog
        from graph_db_clustering_spark.operators import graph_algos
        from graph_db_clustering_spark.operators.graph import Graph

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        checks: list[Check] = []
        with tr.span("catalog.load"):
            vertices = catalog.load_table(spark, ctx.inputs, "vertices")
            edges = catalog.load_table(spark, ctx.inputs, "edges")
        checks.append(Check("catalog.load", _columns(edges, ["src", "dst"])))
        g = Graph(vertices, edges)

        with tr.span("graph_algos.components"):
            cc = graph_algos.connected_components(g, max_iter=self.m["cc_cap"]).collect()
        checks.append(Check(
            "graph_algos.components",
            lambda: R.check_components(cc, self.cc_ref, self.deep),
            known_defect="connected_components stops at max_iter and returns the "
            "partial labelling of chains deeper than the cap, without a signal",
        ))
        with tr.span("graph_algos.pagerank"):
            pr = graph_algos.pagerank(g, damping=PR_DAMPING, max_iter=PR_ITERS,
                                      tol=PR_TOL).collect()
        checks.append(Check("graph_algos.pagerank", lambda: R.check_pagerank(pr, self.pr_ref)))
        with tr.span("graph_algos.lpa"):
            lpa = graph_algos.label_propagation(g, max_iter=LPA_ITERS).collect()
        checks.append(Check("graph_algos.lpa",
                            lambda: R.check_labels(lpa, self.lpa_ref, "community")))
        with tr.span("graph_algos.paths"):
            sp = graph_algos.shortest_paths(g, self.sources).collect()
        checks.append(Check("graph_algos.paths", lambda: R.check_bfs(sp, self.bfs_ref)))
        return checks


# ---------------------------------------------------------------------------
# curate_lakehouse: one crawl batch per pass into a merge-on-read table
# ---------------------------------------------------------------------------

KEY_STRIDE = 10_000_000
PREV, THIS = 0, 1  # key generations: the batch in the initial table, and a pass's batch
WEAK_MINHASH = (
    "the minhash family (a*x + b) mod 2**61-1 over 32-bit shingle hashes is "
    "piecewise monotone in x, so the 64 minhashes are strongly correlated and "
    "LSH recall falls below what independent hashes give"
)


def _key(generation: int, doc_id: int) -> int:
    """Record key of batch document ``doc_id`` in key ``generation``:
    distinct per generation, so a pass's upsert inserts and its delete
    removes the previous generation's rows."""
    return (generation + 1) * KEY_STRIDE + doc_id


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class CurateLakehouse:
    """Decode a zstd Avro batch, dedup it against a history index and
    within itself, clean it, then upsert it into a Hudi merge-on-read
    table, delete the previous batch, read the snapshot and compact."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.m = ctx.manifest
        self.table = os.path.join(ctx.work, "hudi_docs")
        self.pristine = os.path.join(ctx.work, "hudi_docs_initial")
        self.index = os.path.join(ctx.work, "index")

    def setup(self) -> None:
        from graph_db_clustering_spark import catalog
        from graph_db_clustering_spark.operators import dedup
        from graph_db_clustering_spark.sources.avro import read_avro
        from graph_db_clustering_spark.sources.hudi import hudi_create

        ctx, spark = self.ctx, self.ctx.spark
        hist = pq.read_table(os.path.join(ctx.inputs, "history.parquet")).to_pydict()
        self.history = dict(zip(hist["doc_id"], hist["text"]))
        # the batch as generated, for the checks (never shown to the package)
        self.texts = {d: t for d, t in self.m["batch_texts"]}

        history = catalog.load_table(spark, ctx.inputs, "history")
        buckets, shingles = dedup.build_band_index(history, "doc_id", "text")
        shutil.rmtree(self.index, ignore_errors=True)
        buckets.write.parquet(os.path.join(self.index, "buckets.parquet"))
        shingles.write.parquet(os.path.join(self.index, "shingles.parquet"))

        # the table starts with history rows plus the batch under the keys
        # a previous pass would have given it; every pass starts from a
        # copy of this state (the package keeps emptied file groups and
        # the whole timeline, so a table carried across passes would make
        # each pass slower than the one before)
        self.base_keys = set(range(self.m["table_rows"]))
        self.kept = sorted(R.clean_keep(self.texts))
        base = history.filter(history.doc_id < self.m["table_rows"]).unionByName(
            self._rows_df(PREV, self.texts))
        shutil.rmtree(self.pristine, ignore_errors=True)
        hudi_create(spark, base, self.pristine, record_key="doc_id",
                    table_type="MERGE_ON_READ")
        if ctx.trace:
            batch = read_avro(spark, os.path.join(ctx.inputs, "batch"))
            self.n_candidates = self._candidates(batch, buckets)

    def reset(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.pristine, self.table)

    def _rows_df(self, generation: int, texts: dict):
        return self.ctx.spark.createDataFrame(
            [(_key(generation, d), texts[d]) for d in self.kept], "doc_id long, text string"
        )

    def run_pass(self, p: int) -> list[Check]:
        from graph_db_clustering_spark import catalog
        from graph_db_clustering_spark.operators import dedup, text
        from graph_db_clustering_spark.sources.avro import read_avro
        from graph_db_clustering_spark.sources.hudi import hudi_delete, hudi_upsert, read_hudi
        from graph_db_clustering_spark.sources.hudi_mor import hudi_compact

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        checks: list[Check] = []
        with tr.span("avro.read"):
            batch = read_avro(spark, os.path.join(ctx.inputs, "batch")).localCheckpoint()
            rows = batch.collect()
        texts = {r["doc_id"]: r["text"] for r in rows}
        checks.append(Check("avro.read", lambda: R.check_equal(
            "batch documents", texts, self.texts)))

        with tr.span("catalog.load"):
            buckets = catalog.load_table(spark, self.index, "buckets")
            shingles = catalog.load_table(spark, self.index, "shingles")
        checks.append(Check("catalog.load", _columns(shingles, ["id", "hshingles"])))

        with tr.span("dedup.cross") as sp:
            cross = dedup.near_dups_against(batch, buckets, shingles, "doc_id", "text").collect()
        if tr.enabled:
            sp.counters["dedup.pairs_per_candidate"] = len(cross) / max(self.n_candidates, 1)
        checks.append(Check("dedup.cross", lambda: R.check_near_dups(
            [(r["new_id"], r["corpus_id"], r["jaccard"]) for r in cross],
            self.m["planted_cross"], texts, self.history), known_defect=WEAK_MINHASH))

        with tr.span("dedup.minhash"):
            within = dedup.minhash_dedup(batch, "doc_id", "text").collect()
        checks.append(Check("dedup.minhash", lambda: R.check_near_dups(
            [(r["id1"], r["id2"], r["jaccard"]) for r in within],
            self.m["planted_within"], texts, texts), known_defect=WEAK_MINHASH))

        with tr.span("text.clean"):
            clean = text.clean_corpus(batch, "doc_id", "text").collect()
        checks.append(Check("text.clean", lambda: R.check_equal(
            "kept ids", sorted(r["doc_id"] for r in clean), self.kept)))

        before = _dir_mb(self.table) if tr.enabled else 0.0
        with tr.span("hudi.upsert"):
            hudi_upsert(spark, self.table, self._rows_df(THIS, texts))
        with tr.span("hudi.delete"):
            old = spark.createDataFrame([(_key(PREV, d),) for d in self.kept], "doc_id long")
            hudi_delete(spark, self.table, old)
        with tr.span("hudi.snapshot"):
            snap = read_hudi(spark, self.table).select("doc_id").collect()
        want = self.base_keys | {_key(THIS, d) for d in self.kept}
        checks.append(Check("hudi.snapshot", lambda: R.check_equal(
            "snapshot keys", sorted(r[0] for r in snap), sorted(want))))
        with tr.span("hudi.compact") as sp:
            hudi_compact(spark, self.table)
        if tr.enabled:
            sp.counters["hudi.bytes_written_mb"] = _dir_mb(self.table) - before
        checks.append(Check("hudi.compact", lambda: R.check_equal(
            "keys after compaction",
            sorted(r[0] for r in read_hudi(spark, self.table).select("doc_id").collect()),
            sorted(want))))
        return checks

    def _candidates(self, batch, buckets) -> int:
        """Distinct LSH candidate pairs of the batch against the index,
        built from the package's public banding steps with
        near_dups_against's defaults (traced runs only, during set-up)."""
        from pyspark.sql import functions as F

        from graph_db_clustering_spark.operators import dedup

        sh = dedup.with_hashed_shingles(batch.select("doc_id", "text"), "text", 3)
        sig = dedup.with_minhash_signature(sh.select("doc_id", "hshingles"), "hshingles", 64, 42)
        qb = dedup.band_buckets(sig, "doc_id", "signature", 16, 4)
        return (
            qb.select(F.col("id").alias("new_id"), "band", "bhash")
            .join(buckets.select(F.col("id").alias("corpus_id"), "band", "bhash"),
                  ["band", "bhash"])
            .select("new_id", "corpus_id").distinct().count()
        )


WORKLOADS = {
    "cluster_graph": ClusterGraph,
    "graph_loops": GraphLoops,
    "curate_lakehouse": CurateLakehouse,
}
