"""The reference's entire driver program (reference train.py:7-15), on this
engine — same workflow, each step now one distributed plan:

    reference                                this engine
    ---------------------------------------  --------------------------------
    fe.flush_database()                      GraphStore.truncate snapshot
    fe.load_images(dir) / load_cifar()       binaryFile / cifar source, or the
                                             deterministic raw-image fixture
    fe.extract_features per image (driver)   multimodal.image_features
                                             (Arrow-batched mapInPandas)
    fe.insertImageGraph() (1 tx per image)   one batched vertex write
    fe.initCentroids(k)  (Cypher rand())     seed-deterministic sample
    fe.train()           (driver O(N*k))     kmeans.fit — one assign + vector-sum
                                             aggregate job per iteration
    fe.scoreClusters()                       purity_scores (+ true silhouette
                                             via MLlib if wanted)

Run:  python examples/train.py [sf_dir] [k]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_db_clustering_spark.catalog import load_table
from graph_db_clustering_spark.operators import kmeans, multimodal
from graph_db_clustering_spark.operators.graph import Graph, GraphStore
from graph_db_clustering_spark.session import get_spark


def train(sf_dir: str = "/root/testdata/sf0.001", k: int = 2, store_path: str | None = None):
    spark = get_spark("gdc-train-example")
    store_path = store_path or tempfile.mkdtemp(prefix="image_graph_")

    # -- load + featurize (image_classification.py:68-132, 173-185) --------
    docs = load_table(spark, sf_dir, "documents")
    images = multimodal.synthetic_images_from_documents(docs, "doc_id", "text", side=16)
    feats = multimodal.image_features(images, resize_to=(8, 8))

    # -- graph construction (insertImageGraph, :187-221) -------------------
    vertices = feats.select(
        "id",
        F.lit("Image").alias("label"),
        "features",
        *multimodal.FEATURE_NAMES,
    )
    graph = Graph(vertices, spark.createDataFrame([], "src long, dst long, relationship string"))
    store = GraphStore(spark, store_path)
    store.save(graph)  # batched columnar write — never per-row transactions

    # -- init + Lloyd's loop (initCentroids + train, :223-240, 557-598) ----
    # checkpointed: the fit's assignments are lazy over its input, and the
    # CLOSEST_TO save below overwrites the stored vertices it would re-read
    images = store.load().vertices.filter(F.col("label") == "Image").localCheckpoint()
    result = kmeans.fit(
        images,
        k=k,
        id_col="id",
        vec_col="features",
        metric="cosine",  # corrected argmax (SURVEY §7.4.1)
        max_iter=100,
    )

    # -- CLOSEST_TO edges (connectToCentroid, :395-445) --------------------
    edges = result.assignments.select(
        F.col("id").alias("src"),
        F.col("cid").alias("dst"),
        F.lit("CLOSEST_TO").alias("relationship"),
        F.col("score").alias("cosine_similarity"),
    )
    store.save(Graph(graph.vertices, edges))

    # -- scoring (scoreClusters, :524-555; purity, not a real silhouette) --
    labels = docs.select(
        F.col("doc_id").alias("vec_id"),
        (F.length("text") % 10).alias("label"),  # stand-in label like hi/lo
    )
    purity = kmeans.purity_scores(result.assignments, labels, "vec_id", "label")
    sizes = {r.cid: r.n for r in result.assignments.groupBy("cid").agg(F.count("*").alias("n")).collect()}
    print(f"converged={result.converged} iterations={result.iterations} sizes={sizes}")
    purity.orderBy("cid").show()
    return result, store_path


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    train(sf, k)
