"""The reference's ACTUAL dataset end-to-end: its 20 cat/dog JPEGs
(reference data/*.jpeg) through the distributed pipeline its train.py:7-15
runs single-node — now with zero codec dependencies (the pure-NumPy
baseline JPEG decoder in functions/jpeg stands in for cv2.imdecode at
image_classification.py:77-97).

    binaryFile scan of data/        (sources.files.read_binary_dir)
 -> decode + grayscale + resize     (functions/jpeg inside mapInPandas)
 -> 7-stat feature vector           (multimodal.image_features, the
                                     extract_features parity path)
 -> k-means k=2                     (operators/kmeans.fit)
 -> cluster table with filenames    (the reference's printClusters)

Run:  python examples/reference_images.py [image_dir] [k]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_db_clustering_spark.operators import kmeans, multimodal
from graph_db_clustering_spark.session import get_spark
from graph_db_clustering_spark.sources.files import read_binary_dir


def main(image_dir: str = "/root/reference/data", k: int = 2):
    spark = get_spark("gdc-reference-images")
    raw = read_binary_dir(spark, image_dir, glob="*.jpeg")
    images = raw.select(
        F.abs(F.hash("path")).cast("long").alias("image_id"),
        F.element_at(F.split("path", "/"), -1).alias("name"),
        "content",
        F.struct(
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("width"),
            F.lit(3).alias("channels"),
            F.lit("jpeg").alias("format"),
        ).alias("meta"),
    )
    feats = multimodal.image_features(images, resize_to=(32, 32))
    # cached: the fit, the count and the assignment below each read it
    named = feats.join(images.select(F.col("image_id").alias("id"), "name"), "id").cache()
    fit = kmeans.fit(named, k=k, id_col="id", vec_col="features", max_iter=10)
    assigned = kmeans.assign(named, fit.centroids, "id", "features").join(
        named.select("id", "name"), "id"
    )
    print(f"decoded {named.count()} images; k={k} clusters:")
    for row in assigned.orderBy("cid", "name").collect():
        print(f"  cluster {row.cid}: {row.name}")
    return assigned


if __name__ == "__main__":
    main(*(sys.argv[1:2] or ["/root/reference/data"]), *map(int, sys.argv[2:3] or [2]))
