"""LZ4 frames in Puffin files (functions/puffin): corrupt frames from
outside input raise PuffinError, whatever part of the frame is bad."""

from __future__ import annotations

import pyarrow as pa
import pytest

from graph_db_clustering_spark.functions.puffin import PuffinError, puffin_blob


def _decode(frame: bytes) -> bytes:
    return puffin_blob(frame, {"offset": 0, "length": len(frame),
                               "compression-codec": "lz4"})


def test_frame_guards():
    p = b"payload " * 10
    enc = pa.compress(p, codec="lz4", asbytes=True)
    assert _decode(enc) == p
    # frame = magic(4) FLG BD HC, then blocks of size(4) + data
    bad = {
        "frameType_unknown": b"\x00" * 16,
        "headerChecksum": enc[:6] + bytes([enc[6] ^ 0xFF]) + enc[7:],
        "Truncated": enc[: len(enc) // 2],
        # a block whose match offset points before the output start
        "decompressionFailed": (enc[:7] + (4).to_bytes(4, "little")
                                + b"\x10a\xff\xff" + b"\0\0\0\0"),
    }
    for why, frame in bad.items():
        with pytest.raises(PuffinError, match=f"corrupt lz4.*{why}"):
            _decode(frame)
