"""Multimodal column plumbing (SURVEY.md §2.12).

Images/audio/video are opaque `binary` columns with typed metadata.
The decode/feature-extract step runs as an Arrow-batched
`mapInPandas` — the real Spark-side plumbing (schema, batching,
partition parallelism) — while the media decoding itself is STUBBED
(the image/audio libraries are not in this container): features are a
deterministic function of the raw bytes so tests and the DuckDB oracle
can verify the pipeline end-to-end.

At scale: binary payloads stay columnar in parquet, the pandas iterator
processes one Arrow batch at a time (bounded memory per task), and the
extraction parallelizes per input partition with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd

# Every lane reads `payload` keyed by `doc_id` (documents_as_binary's
# shape) and emits `doc_id`. Frame geometry: up to MAX_FRAMES frames of
# FRAME_BYTES at byte offsets 0, FRAME_STRIDE, …; the audio lane reads
# back-to-back VAD_FRAME_BYTES frames; thumbnails are RESIZE_BYTES.
FRAME_BYTES = 64
FRAME_STRIDE = 256
MAX_FRAMES = 4
VAD_FRAME_BYTES = 256
RESIZE_BYTES = 64
VAD_THRESHOLD = 500_000  # frame energy Σ (b−128)² above which it is voiced
SHOT_THRESHOLD = 1800  # frame-to-frame L1 distance above which a cut fires

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_hex", T.StringType()),
        T.StructField("fake_width", T.LongType()),
    ]
)


def real_decode(payload: bytes) -> dict:
    """Placeholder for a real media decoder (PIL / torchaudio / ffmpeg).

    Not available in this environment — the deterministic fake in
    `extract_features` stands in; swap this out where the libs exist.
    """
    raise NotImplementedError("media decode libs are not installed in this container")


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over a binary column. The
    features are a deterministic stand-in for decode: byte length,
    8-byte header hex, and a pseudo "width" derived from the size."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": [len(b) for b in payload],
                    "head_hex": [b[:8].hex().upper() for b in payload],
                    "fake_width": [len(b) % 640 for b in payload],
                }
            )

    return binary_df.mapInPandas(run, schema=FEATURE_SCHEMA)


def documents_as_binary(documents: DataFrame) -> DataFrame:
    """Model the documents table as a multimodal source: utf-8 payload
    bytes + metadata columns (the testdata has no real media blobs)."""
    return documents.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"), "source"
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("frame_len", T.LongType()),
    ]
)


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """Frame sampling over a binary column (the video-keyframe analog):
    emit up to MAX_FRAMES chunks of FRAME_BYTES at byte offsets
    0, FRAME_STRIDE, 2*FRAME_STRIDE, … — one input row fans out to N
    output rows.

    A real decoder would seek keyframes; the byte-offset sampler is the
    deterministic stand-in (real_decode above is the marked stub), and
    the Spark-side shape is the real thing: Arrow-batched mapInPandas,
    1→N row expansion inside the batch iterator, binary columns in and
    out, zero shuffle — partition parallelism carries it at scale.
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames, lens = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"], strict=True):
                buf = bytes(payload)
                for i in range(MAX_FRAMES):
                    off = i * FRAME_STRIDE
                    if off >= len(buf):
                        break
                    chunk = buf[off : off + FRAME_BYTES]
                    ids.append(int(doc_id))
                    idxs.append(i)
                    frames.append(chunk)
                    lens.append(len(chunk))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames, "frame_len": lens}
            )

    return binary_df.mapInPandas(run, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("orig_bytes", T.LongType()),
        T.StructField("out_len", T.LongType()),
        T.StructField("resized_hex", T.StringType()),
    ]
)


def resize_payload(binary_df: DataFrame) -> DataFrame:
    """Resize-to-fixed-shape over a binary column (the image-thumbnail
    analog): every payload becomes exactly RESIZE_BYTES bytes —
    truncated or zero-padded. A real implementation decodes, scales
    and re-encodes (real_decode above is the marked stub); the
    crop-or-pad is the deterministic stand-in, and the Spark shape is
    the real thing: Arrow-batched mapInPandas, fixed-size binary out,
    zero shuffle. Fixed-shape outputs are what make downstream tensor
    batching (training input pipelines) possible."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, origs, hexes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"], strict=True):
                buf = bytes(payload)
                resized = buf[:RESIZE_BYTES].ljust(RESIZE_BYTES, b"\x00")
                ids.append(int(doc_id))
                origs.append(len(buf))
                hexes.append(resized.hex().upper())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "orig_bytes": pd.Series(origs, dtype="int64"),
                    "out_len": pd.Series([RESIZE_BYTES] * len(ids), dtype="int64"),
                    "resized_hex": hexes,
                }
            )

    return binary_df.mapInPandas(run, schema=RESIZE_SCHEMA)


VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("voiced", T.BooleanType()),
    ]
)


def vad_frames(binary_df: DataFrame) -> DataFrame:
    """Voice-activity detection over a binary column (the audio
    analog of sample_frames): payload bytes read as 8-bit PCM centered
    at 128, per-frame energy = Σ (b−128)², voiced = energy above
    VAD_THRESHOLD. A real implementation decodes the container first
    (real_decode above is the marked stub); interpreting the raw bytes
    as samples is the deterministic stand-in, and the Spark shape is
    the real thing — Arrow-batched mapInPandas, 1→N frame fan-out
    inside the batch iterator, integer energies (numpy int64 sums,
    nothing to round), zero shuffle."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fis, ns, es, vs = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"], strict=True):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                for fi in range(MAX_FRAMES):
                    fr = buf[fi * VAD_FRAME_BYTES : (fi + 1) * VAD_FRAME_BYTES]
                    if len(fr) == 0:
                        break
                    e = int(((fr - 128) ** 2).sum())
                    ids.append(int(doc_id))
                    fis.append(fi)
                    ns.append(len(fr))
                    es.append(e)
                    vs.append(e > VAD_THRESHOLD)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fis, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "energy": pd.Series(es, dtype="int64"),
                    "voiced": pd.Series(vs, dtype="bool"),
                }
            )

    return binary_df.mapInPandas(run, schema=VAD_SCHEMA)


SHOT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("boundary_idx", T.LongType()),
        T.StructField("diff_energy", T.LongType()),
        T.StructField("is_cut", T.BooleanType()),
    ]
)


def shot_boundaries(binary_df: DataFrame) -> DataFrame:
    """Shot-boundary detection over a binary column (the video-cut
    analog, pairing with sample_frames' keyframe lane): consecutive
    sampled frames compare by L1 byte distance Σ|b−b'| (exact
    integer), a cut fires above SHOT_THRESHOLD. Same honest-stub
    contract as the other multimodal lanes — real decode is stubbed,
    the Arrow-batched mapInPandas plumbing, numpy int64 math and
    1→N-1 pair fan-out are the production shape."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, bis, des, cuts = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"], strict=True):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                )
                frames = []
                for fi in range(MAX_FRAMES):
                    fr = buf[fi * FRAME_STRIDE : fi * FRAME_STRIDE + FRAME_BYTES]
                    if len(fr) < FRAME_BYTES:
                        break
                    frames.append(fr)
                for bi, (a, b) in enumerate(zip(frames, frames[1:])):
                    de = int(np.abs(a - b).sum())
                    ids.append(int(doc_id))
                    bis.append(bi)
                    des.append(de)
                    cuts.append(de > SHOT_THRESHOLD)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "boundary_idx": pd.Series(bis, dtype="int64"),
                    "diff_energy": pd.Series(des, dtype="int64"),
                    "is_cut": pd.Series(cuts, dtype="bool"),
                }
            )

    return binary_df.mapInPandas(run, schema=SHOT_SCHEMA)
