"""Arrow IPC / Feather-v2 source: distributed ingestion of .arrow files.

Arrow IPC files (a.k.a. Feather v2) are the interchange currency of the
Python ML stack (pandas, polars, datasets); pyarrow ships in this
environment, so decoding is delegated to it rather than re-implemented —
the engineering here is the DISTRIBUTION shape: files load through the
binaryFile source (one task per file, listing distributed), each task
opens its blob with pyarrow.ipc and yields the record batches as Arrow-
native pandas frames. No driver-side reads, no per-row Python: the
pyarrow decode is columnar end to end, and mapInPandas hands the same
Arrow memory back to Spark.

Schema contract: all files must share one schema, declared by the
caller or sniffed from the FIRST file (driver reads only that file's
schema header, not its data).
"""

from __future__ import annotations

import io
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from graph_db_clustering_spark.sources.files import read_binary_dir


def _spark_ddl_for(schema) -> str:
    import pyarrow as pa

    m = {
        pa.int8(): "tinyint",
        pa.int16(): "smallint",
        pa.int32(): "int",
        pa.int64(): "long",
        pa.float32(): "float",
        pa.float64(): "double",
        pa.string(): "string",
        pa.large_string(): "string",
        pa.bool_(): "boolean",
        pa.binary(): "binary",
        pa.date32(): "date",
        # pandas writes an empty or all-None object column as Arrow null
        pa.null(): "void",
    }
    parts = []
    for f in schema:
        t = m.get(f.type)
        if t is None:
            if pa.types.is_timestamp(f.type):
                t = "timestamp"
            elif pa.types.is_decimal(f.type):
                t = f"decimal({f.type.precision},{f.type.scale})"
            else:
                raise NotImplementedError(
                    f"arrow_ipc: unmapped Arrow type {f.type} for field {f.name!r}"
                )
        parts.append(f"{f.name} {t}")
    return ", ".join(parts)


def read_arrow_ipc(
    spark: SparkSession, path: str, glob: str = "*.arrow"
) -> DataFrame:
    """Read a directory of Arrow IPC files as one DataFrame. The
    driver opens only the first file's SCHEMA; every file's data
    decodes executor-side in its own task."""
    files = read_binary_dir(spark, path, glob)
    first = files.select("path").orderBy("path").first()
    if first is None:
        raise ValueError(f"arrow_ipc: no files matching {glob!r} under {path}")
    local = first["path"].removeprefix("file:")
    with open(local, "rb") as f:
        schema = _open_any(f.read()).schema
    ddl = _spark_ddl_for(schema)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                rd = _open_any(bytes(blob))
                for batch in _iter_batches(rd):
                    yield batch.to_pandas()

    return files.select("content").mapInPandas(decode, ddl)


def _open_any(blob: bytes):
    """File format (magic 'ARROW1') or the bare stream format — both
    are legal on-disk encodings in the wild (streams come out of
    socket dumps and `pa.ipc.new_stream`)."""
    import pyarrow.ipc as ipc

    if blob[:6] == b"ARROW1":
        return ipc.open_file(io.BytesIO(blob))
    return ipc.open_stream(io.BytesIO(blob))


def _iter_batches(rd):
    if hasattr(rd, "num_record_batches"):  # file reader
        for i in range(rd.num_record_batches):
            yield rd.get_batch(i)
    else:  # stream reader
        yield from rd
