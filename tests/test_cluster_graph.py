"""The paper's pipeline end to end in the default tier: k-means, the
Image/Centroid CLOSEST_TO graph saved and reloaded through GraphStore,
then the reference's counts, members and SET Cypher strings
(image_classification.py) over the reloaded graph."""

import pytest
from pyspark.sql import functions as F

from graph_db_clustering_spark.cypher import CypherSession
from graph_db_clustering_spark.operators import kmeans
from graph_db_clustering_spark.operators.graph import Graph, GraphStore

CYPHER_COUNTS = "MATCH (i:Image)-[r:CLOSEST_TO]->(c:Centroid) RETURN c, count(r)"
CYPHER_MEMBERS = (
    "MATCH (i:Image)-[:CLOSEST_TO]->(c:Centroid) WHERE ID(c)=$centroid_id RETURN i"
)
CYPHER_SET = "MATCH (c:Centroid) WHERE ID(c)=$centroid_id SET c.corrcoef = $corrcoef"

N = 60
K = 3


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """60 points in three noisy 4-d blobs -> fit -> stored graph, reloaded.
    Centroid vertex ids follow the image ids (cid + N)."""
    i = F.col("id")
    blob = i % K
    noise = lambda j: (F.sin(i * 12.9898 + j * 78.233) * 43758.5453) % 1.0 * 0.2  # noqa: E731
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda j: (F.when(j == blob, 1.0).otherwise(0.0) + noise(j)).cast("double"),
    )
    pts = spark.range(N).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    res = kmeans.fit(pts, k=K, max_iter=10)

    images = pts.select(
        F.col("vec_id").alias("id"), F.lit("Image").alias("label"),
        F.concat(F.lit("img"), F.col("vec_id")).alias("name"),
    )
    cents = res.centroids.select(
        (F.col("cid") + N).alias("id"), F.lit("Centroid").alias("label"),
        F.concat(F.lit("c"), F.col("cid")).alias("name"),
    )
    edges = res.assignments.select(
        F.col("id").alias("src"), (F.col("cid") + N).alias("dst"),
        F.lit("CLOSEST_TO").alias("relationship"),
        F.col("score").alias("cosine_similarity"),
    )
    store = GraphStore(spark, str(tmp_path_factory.mktemp("cluster_graph")))
    store.save(Graph(images.unionByName(cents), edges))
    counts = {N + c: n for c, n in res.history[-1]["counts"].items()}
    return res, counts, store.load()


def test_cypher_counts_equal_fit_counts(clustered):
    res, counts, g = clustered
    assert res.converged
    assert (g.vertices.count(), g.edges.count()) == (N + K, N)
    rows = CypherSession(g).run(CYPHER_COUNTS).collect()
    assert {r["c"]["id"]: r["count(r)"] for r in rows} == counts
    assert sum(counts.values()) == N


def test_cypher_members_and_set_on_stored_graph(clustered):
    _res, counts, g = clustered
    session = CypherSession(g)
    c0 = min(counts)
    members = session.run(CYPHER_MEMBERS, centroid_id=c0).collect()
    assert len(members) == counts[c0]
    assert all(r["i"]["label"] == "Image" for r in members)
    session.run(CYPHER_SET, centroid_id=c0, corrcoef=0.5)
    stored = session.graph.vertices.filter(F.col("id") == c0).select("corrcoef").collect()
    assert [r[0] for r in stored] == [0.5]
