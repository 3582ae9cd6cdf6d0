"""Streaming mini-batch k-means: the reference's core workload
(kmeans_clustering/image_classification.py — batch Lloyd's over a
20-image graph) as an online learner over an embedding stream.

Update rule = the public MLlib StreamingKMeans model (Spark docs,
"streaming k-means" — itself the Sculley 2010 mini-batch rule with a
forgetfulness knob): per micro-batch, points assign to their nearest
centroid and the batch's per-cluster counts and vector sums come back
in the SAME one-pass step (`operators/kmeans._lloyd_step`) the batch
fit() loop runs — stream and batch share one implementation, like
ann_serve_stream / cross-dedup — then each centroid moves to the
count-weighted blend

    c' = (c * n * a + m * b) / (n * a + b),    n' = n * a + b

where m/b are the batch's per-cluster mean/count and a is the decay
factor (a=1 -> the exact running mean over all data ever seen; a<1 ->
exponential forgetting for drifting streams; a=0 -> only the newest
batch matters).

Scale shape: per batch, ONE hash aggregate over the batch — the
driver-held centroids are a literal inside a per-row assignment
expression (no join, no shuffle of the batch), and the map-side partial
aggregate ships O(k * dim) values regardless of batch size; driver
state is the k x dim centroid matrix + k counts, exactly the batch
fit() loop's. State survives via the sink: each batch
appends its post-update centroids stamped with the batch id, so the
run is resumable and the trajectory is inspectable.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class StreamingKMeans:
    """Driver-held model state + the foreachBatch updater.

    Not thread-safe across concurrent streams (one model per stream);
    deterministic given the arrival order the replay harness pins."""

    def __init__(
        self,
        init_centroids: list[list[float]],
        decay: float = 1.0,
        metric: str = "euclidean",
    ):
        if not 0.0 <= decay <= 1.0:
            raise ValueError(f"decay must be in [0, 1], got {decay}")
        self.centroids = np.asarray(init_centroids, dtype=np.float64)
        if self.centroids.ndim != 2:
            raise ValueError("init_centroids must be a k x dim matrix")
        self.counts = np.zeros(len(self.centroids), dtype=np.float64)
        self.decay = float(decay)
        self.metric = metric
        self.n_batches = 0

    def update_batch(self, batch_df: DataFrame, id_col: str, vec_col: str) -> None:
        """One mini-batch update (callable directly for batch tests)."""
        from graph_db_clustering_spark.operators.kmeans import _lloyd_step

        vecs = batch_df.select(F.col(vec_col).alias("vec"))
        stats = _lloyd_step(vecs, self.centroids.tolist(), self.metric, "corrected")
        bsum = np.zeros(self.centroids.shape)
        bcnt = np.zeros(len(self.centroids))
        for cid, (_, n_vec, sums) in stats.items():
            bsum[cid] = sums
            bcnt[cid] = n_vec
        a = self.decay
        n_old = self.counts * a
        denom = n_old + bcnt
        nz = denom > 0
        blended = self.centroids.copy()
        blended[nz] = (
            self.centroids[nz] * n_old[nz, None] + bsum[nz]
        ) / denom[nz, None]
        self.centroids = blended
        self.counts = denom
        self.n_batches += 1


def kmeans_stream(
    vec_stream: DataFrame,
    model: StreamingKMeans,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach a StreamingKMeans model to a vector stream. Each
    micro-batch updates the model and appends the post-update centroids
    (batch_id, cid, centroid, count) to a parquet trajectory sink with
    dynamic partition overwrite.

    The SINK is the source of truth for model state, which is what
    makes the run genuinely resumable and retry-safe: before applying
    a batch, the step restores the model from the sink's latest row
    set (a k-row read), skips batches the sink already records (a
    checkpoint replay after restart, or a retry after a committed
    write), and only then updates — so each batch's update is a pure
    function of (sink state, batch data) and applying it twice is
    impossible, whether the in-memory model object is fresh (restart)
    or stale (retry after a crash between update and write). Returns
    the started StreamingQuery (caller awaits)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        try:
            traj = spark.read.parquet(out_path)
            last = traj.agg(F.max("__batch_id")).collect()[0][0]
        except Exception:
            last = None
        if last is not None:
            if int(batch_id) <= int(last):
                return  # already applied and committed
            rows = traj.filter(F.col("__batch_id") == last).orderBy("cid").collect()
            if len(rows) == len(model.centroids):
                model.centroids = np.array(
                    [list(r.centroid) for r in rows], dtype=np.float64
                )
                model.counts = np.array(
                    [float(r["count"]) for r in rows], dtype=np.float64
                )
        model.update_batch(batch_df, id_col, vec_col)
        rows = [
            (int(batch_id), i, [float(x) for x in c], float(n))
            for i, (c, n) in enumerate(zip(model.centroids, model.counts))
        ]
        (
            spark.createDataFrame(
                rows, "__batch_id long, cid int, centroid array<double>, count double"
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out_path)
        )

    return (
        vec_stream.writeStream.foreachBatch(step)
        .outputMode("update")
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "kmeans_stream")
        )
        .trigger(availableNow=True)
        .start()
    )
