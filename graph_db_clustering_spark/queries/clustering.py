"""Clustering-domain declared queries (the reference's core workload).

`kmeans_update` is the oracle-checked single Lloyd iteration: deterministic
centroid choice (Q29 form), cosine argmax assignment (Q16 plan), then the
update-step aggregate summarized scalarly (per-cluster size + mean of
vector sums) so DuckDB can hash-check it without elementwise list math.

`kmeans_slice` is the full SURVEY §7.2 end-to-end slice (init -> iterate ->
sizes + purity); it is iterative and driver-looped, hence rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_db_clustering_spark.catalog import load_table
from graph_db_clustering_spark.operators import kmeans
from graph_db_clustering_spark.queries.corpus import declared


@declared(
    "kmeans_update",
    """WITH pts AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings WHERE vec_id <= 50),
cents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
          FROM embeddings WHERE vec_id IN (1, 2)),
sims AS (
  SELECT p.vec_id, c.cid, list_cosine_similarity(p.emb, c.cemb) AS sim
  FROM pts p CROSS JOIN cents c),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims) t
  WHERE rn = 1)
SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(LIST_SUM(p.emb)), 4) AS avg_vecsum
FROM assign a JOIN pts p ON p.vec_id = a.vec_id
GROUP BY a.cid ORDER BY a.cid""",
)
def kmeans_update(spark, sf_dir):
    """One assignment + update summary: per-centroid member count and mean
    vector-sum. Same distributed plan as operators/kmeans.update, projected
    to scalars for the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    pts = emb.filter(F.col("vec_id") <= 50)
    cents = emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("centroid")
    )
    assigned = kmeans.assign(pts, cents, id_col="vec_id", vec_col="emb", metric="cosine")
    from graph_db_clustering_spark.functions.vectors import vec_sum

    return (
        assigned.join(pts.select(F.col("vec_id").alias("id"), "emb"), "id")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(vec_sum(F.col("emb"))), 4).alias("avg_vecsum"),
        )
        .orderBy("cid")
    )


@declared("kmeans_slice")  # iterative driver loop -> rows-only check
def kmeans_slice(spark, sf_dir):
    """SURVEY §7.2 minimum end-to-end slice: deterministic k=2 init, Lloyd
    iterations to convergence (max 5 here), per-cluster size + purity.
    Exercises scan, per-row argmax assignment against driver-held
    centroids, one count + vector-sum aggregate per iteration, conditional
    agg — the entire reference workload (train.py:7-15) as distributed
    plans with O(k) driver traffic per iteration."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = kmeans.fit(emb, k=2, max_iter=5)
    # every point has a label row, so a cluster's size is hi + lo: the
    # lazy assignments are evaluated once
    purity = kmeans.purity_scores(res.assignments, emb, "vec_id", "label")
    return purity.select(
        "cid", (F.col("hi") + F.col("lo")).alias("n"), "hi", "lo",
        F.round("purity", 4).alias("purity"),
    ).orderBy("cid")


@declared(
    "label_centroids",
    """WITH u AS (SELECT label, UNNEST(CAST(embedding AS DOUBLE[])) AS e,
                  UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i
           FROM embeddings)
SELECT CAST(label AS INT) AS label, CAST(i - 1 AS INT) AS dim,
       ROUND(AVG(e), 6) AS mean_val
FROM u GROUP BY label, i ORDER BY label, dim""",
)
def label_centroids(spark, sf_dir):
    """Per-label mean embedding via a pandas GROUPED_AGG UDAF — the custom
    aggregate surface of SURVEY §2.11 (the one UDF shape the other
    entries don't cover): each label's member vectors arrive as one Arrow
    batch, NumPy reduces them to a single 64-dim mean. The built-in
    alternative (avg over posexploded elements) shuffles N*dim rows; the
    UDAF shuffles N vectors once and reduces map-side per group.

    Declared surface posexplodes the k x dim result (k*dim tiny rows) so
    the external gate can canonicalize it — the UDAF itself still returns
    one array row per label."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans.label_centroids_udaf(emb, "label", "embedding")
    return (
        cents.select("label", F.posexplode("centroid").alias("dim", "mean_val"))
        .select("label", "dim", F.round("mean_val", 6).alias("mean_val"))
        .orderBy("label", "dim")
    )


@declared(
    "clustering_ari",
    """WITH t AS (SELECT c_custkey % 4 AS cid, c_custkey % 2 AS lab
           FROM customer WHERE c_custkey < 1000),
ct AS (SELECT cid, lab, COUNT(*) AS n FROM t GROUP BY cid, lab),
s AS (SELECT SUM(n*(n-1)/2.0) AS sc FROM ct),
sa AS (SELECT SUM(x*(x-1)/2.0) AS v FROM (SELECT SUM(n) AS x FROM ct GROUP BY cid) q),
sb AS (SELECT SUM(x*(x-1)/2.0) AS v FROM (SELECT SUM(n) AS x FROM ct GROUP BY lab) q),
tot AS (SELECT SUM(n) AS m FROM ct)
SELECT ROUND((s.sc - sa.v*sb.v/(tot.m*(tot.m-1)/2.0))
           / ((sa.v+sb.v)/2.0 - sa.v*sb.v/(tot.m*(tot.m-1)/2.0)), 6) AS ari
FROM s, sa, sb, tot""",
)
def clustering_ari(spark, sf_dir):
    """Adjusted Rand Index (kmeans.adjusted_rand_index, Hubert-Arabie)
    between the mod-4 partition and its mod-2 coarsening of customers —
    the oracle recomputes the full pair-counting formula in SQL from the
    same contingency table. Exercises the chance-correction arithmetic
    on a partition/refinement pair with a non-trivial fixed value."""
    from graph_db_clustering_spark.operators import kmeans as km

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 1000)
    a = c.select(F.col("c_custkey").alias("id"), (F.col("c_custkey") % 4).alias("cid"))
    lab = c.select(F.col("c_custkey").alias("id"), (F.col("c_custkey") % 2).alias("lab"))
    ari = km.adjusted_rand_index(a, lab, "id", "lab")
    return spark.createDataFrame([(round(ari, 6),)], "ari double")
