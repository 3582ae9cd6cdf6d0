"""CIFAR-10 pickle-batch converter (SURVEY §2.1).

The reference reads CIFAR pickle batches on the driver and ships the raw
arrays through ``sc.parallelize`` (data_loader.py:10-30,
image_classification.py:31-53, 103-132) — the whole dataset transits driver
memory, and the `dict(zip(labels, images))` at :131 then collapses every
class to a single image (SURVEY §7.4.3, a bug we do not replicate).

Here the batch FILES are the distributed unit: binaryFile lists and reads
them in tasks, a mapInPandas UDF unpickles each batch where it was read and
emits one row per image as (image_id, content: binary raw HWC bytes,
meta, label). The output is the multimodal table format
(operators/multimodal), so the whole image pipeline composes downstream.
"""

from __future__ import annotations

import pickle
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_db_clustering_spark.sources.files import read_binary_dir

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("label", T.IntegerType()),
        T.StructField("batch", T.StringType()),
    ]
)


def read_cifar_batches(
    spark: SparkSession, path: str, glob: str = "*_batch*"
) -> DataFrame:
    """Directory of CIFAR-10 pickle batches -> multimodal image table.

    Each batch dict carries ``data`` (N x 3072 uint8, channel-planar RGB)
    and ``labels`` (N ints) — the layout data_loader.py:27-28 reshapes.
    Rows come out NHWC row-major raw bytes (32x32x3), image_id =
    stable hash of (batch file, index) so re-runs are idempotent."""
    binaries = read_binary_dir(spark, path, glob=glob)

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                d = pickle.loads(bytes(content), encoding="bytes")
                data = np.asarray(d[b"data"], dtype=np.uint8)
                labels = list(d.get(b"labels", d.get(b"fine_labels", [])))
                # N x 3072 planar -> N x 32 x 32 x 3 (NHWC, data_loader.py:27-28)
                imgs = data.reshape(-1, 3, 32, 32).transpose(0, 2, 3, 1)
                name = fpath.rsplit("/", 1)[-1]
                # stable across processes (Python's hash() is salted)
                base = zlib.crc32(name.encode())
                yield pd.DataFrame(
                    {
                        "image_id": [base * 100_000 + i for i in range(len(imgs))],
                        "content": [im.tobytes() for im in imgs],
                        "label": [int(x) for x in labels],
                        "batch": name,
                    }
                )

    rows = binaries.mapInPandas(unpack, _OUT_SCHEMA)
    return rows.select(
        "image_id",
        "content",
        F.struct(
            F.lit(32).alias("height"),
            F.lit(32).alias("width"),
            F.lit(3).alias("channels"),
            F.lit("raw").alias("format"),
        ).alias("meta"),
        "label",
        "batch",
    )

