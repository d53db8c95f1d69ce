"""Multimodal column plumbing: opaque binary payloads + typed metadata.

BASELINE.json north-star: image/audio/video as opaque ``binary``
columns with typed metadata, decode / feature-extract as Pandas UDFs
over ``mapInPandas``. The decode libraries (PIL/ffmpeg/librosa) are NOT
in this container, so the decode step is stubbed behind an import-try
with a deterministic fake — but the Spark-side plumbing (binary schema,
Arrow batch shape, partition behavior, UDF signature) is real and
tested.

Payload format for the synthetic fixtures (built from documents.text):

    b"W=<width>;H=<height>;" + utf8(text)

- header parsing is expressible both as JVM expressions (oracle-checked
  metadata query) and inside the pandas kernel (feature extraction).
- at scale this is the exact shape of real image pipelines: binary
  column + sidecar metadata; ``spark.sql.files.maxPartitionBytes``
  bounds scan tasks, the kernel is embarrassingly parallel, and Arrow
  moves bytes without pickling.
"""

from __future__ import annotations

import math

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # real decoders are not in the image — keep the seam explicit
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


def synthetic_payload(docs: DataFrame) -> DataFrame:
    """Attach a deterministic binary `payload` column to documents:
    fake header (dims derived from doc_id) + utf8 body."""
    width = (F.col("doc_id") % 64 + 16).cast("int")
    height = (F.col("doc_id") % 48 + 16).cast("int")
    header = F.concat(
        F.lit("W="), width.cast("string"), F.lit(";H="), height.cast("string"), F.lit(";")
    )
    return docs.select(
        "doc_id",
        F.encode(F.concat(header, F.col("text")), "UTF-8").alias("payload"),
    )


def payload_metadata(payload: Column) -> dict[str, Column]:
    """Typed metadata from the binary column — JVM-side, no Python."""
    s = F.decode(payload, "UTF-8")
    width = F.regexp_extract(s, r"^W=(\d+);", 1).cast("int")
    height = F.regexp_extract(s, r"^W=\d+;H=(\d+);", 1).cast("int")
    return {
        "byte_len": F.octet_length(payload),
        "checksum": F.md5(payload),
        "width": width,
        "height": height,
        "n_pixels": (width * height).cast("long"),
    }


def decode_features(payloads: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``.

    With PIL present this would decode real images; here the decode is
    a deterministic fake (byte statistics) so the distributed plumbing
    is fully exercised. Raises NotImplementedError only for payloads
    that declare a real codec.
    """
    schema = (
        "doc_id long, width int, height int, n_bytes int, "
        "mean_byte double, max_byte int, body_checksum string"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                if raw.startswith(b"\x89PNG") or raw.startswith(b"\xff\xd8"):
                    if not HAS_PIL:  # real codec path — stubbed
                        raise NotImplementedError(
                            "real image decode requires PIL (not in container)"
                        )
                head, _, body = raw.partition(b";H=")
                width = int(head[2:])
                rest, _, body = body.partition(b";")
                height = int(rest)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "width": width,
                        "height": height,
                        "n_bytes": len(body),
                        "mean_byte": float(sum(body)) / len(body) if body else 0.0,
                        "max_byte": max(body) if body else 0,
                        "body_checksum": hashlib.md5(body).hexdigest(),
                    }
                )
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(kernel, schema=schema)


FRAME_CHARS = 64  # fake-codec frame size (characters of the body)


def sample_frames(payloads: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling over binary "video" payloads via ``mapInPandas``:
    decode (fake codec = fixed-size character chunks of the body), keep
    every ``every_n``-th frame, emit one row per kept frame.

    The 1->N batch shape is the real point: a frame sampler widens rows
    (unlike feature extraction's 1->1), and the Arrow batch carries the
    frame bytes out of Python without pickling. With ffmpeg present the
    chunker becomes a real demuxer; the schema, partitioning and batch
    contract are unchanged. Chunking is by CHARACTER (the fake payload
    body is utf-8 text) so a SQL oracle can replay frames with substr.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                head, _, rest = raw.partition(b";H=")
                _, _, body = rest.partition(b";")
                s = body.decode("utf-8")
                n_frames = (len(s) + FRAME_CHARS - 1) // FRAME_CHARS
                for idx in range(0, n_frames, every_n):
                    fr = s[idx * FRAME_CHARS : (idx + 1) * FRAME_CHARS]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "frame_len": len(fr),
                            "frame_md5": hashlib.md5(fr.encode("utf-8")).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "frame_len", "frame_md5"],
            )

    return payloads.mapInPandas(
        kernel, schema="doc_id long, frame_idx int, frame_len int, frame_md5 string"
    )


def resize_payload(payloads: DataFrame, num: int = 1, den: int = 2) -> DataFrame:
    """Binary->binary "resize" via ``mapInPandas``: scale the header
    dims by num/den and stride-sample the body bytes — the Arrow shape
    of a real thumbnailing pass (decode, scale, re-encode) with the
    codec faked. Output schema (doc_id, payload binary) matches the
    input, so resize stages compose/chain like any other payload op."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                head, _, rest = raw.partition(b";H=")
                w = int(head[2:])
                h_str, _, body = rest.partition(b";")
                h = int(h_str)
                nw, nh = w * num // den, h * num // den
                out = (
                    f"W={nw};H={nh};".encode() + bytes(body[:: den // num or 1])
                )
                rows.append({"doc_id": int(doc_id), "payload": out})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return payloads.mapInPandas(kernel, schema="doc_id long, payload binary")


# --- audio: real PCM int16 payloads (numpy-only, no external codecs) ---

PCM_WINDOW = 128  # samples per analysis window
PCM_BASE_SAMPLES = 256  # payload length = base + doc_id % base


def synthetic_pcm_payload(docs: DataFrame) -> DataFrame:
    """(id, audio) with a REAL little-endian int16 PCM payload per row.

    Unlike the image path (codec stubbed — PIL absent from the
    container), int16 PCM needs no external library: the bytes ARE the
    samples. Sample i of row k is a deterministic integer waveform
    ((k*7919 + i*104729) % 65536) - 32768, so any engine can regenerate
    the ground-truth signal arithmetically — which is how the q103
    oracle checks features computed from the actual bytes without a
    blob-parsing SQL dialect."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for k in pdf["doc_id"].astype("int64"):
                n = PCM_BASE_SAMPLES + int(k) % PCM_BASE_SAMPLES
                i = np.arange(n, dtype="int64")
                x = (int(k) * 7919 + i * 104729) % 65536 - 32768
                payloads.append(x.astype("<i2").tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "audio": payloads})

    return docs.select("doc_id").mapInPandas(kernel, schema="doc_id long, audio binary")


def pcm_window_features(payloads: DataFrame) -> DataFrame:
    """Windowed audio features decoded from the binary PCM column:
    per window — sample count, RMS energy, zero-crossing count.

    mapInPandas 1->N demux (the q72 frame-sample shape): each Arrow
    batch decodes its payloads with one ``np.frombuffer`` per row and
    emits a row per window; work is embarrassingly parallel in input
    splits, zero shuffle. RMS accumulates the EXACT integer sum of
    squares (max 128 * 2^30 < 2^53, double-exact) before one divide +
    sqrt, so the math is bit-reproducible anywhere."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf["doc_id"].astype("int64"), pdf["audio"]):
                x = np.frombuffer(bytes(payload), dtype="<i2").astype("int64")
                n = len(x)
                for w in range(0, (n + PCM_WINDOW - 1) // PCM_WINDOW):
                    xs = x[w * PCM_WINDOW : min(n, (w + 1) * PCM_WINDOW)]
                    ssum = int((xs * xs).sum())
                    zc = int(((xs[:-1] * xs[1:]) < 0).sum())
                    rows.append(
                        {
                            "doc_id": int(k),
                            "window_id": w,
                            "n_samples": len(xs),
                            # math.sqrt, not **0.5: pow(x, 0.5) is not
                            # guaranteed correctly-rounded; sqrt is, and
                            # the SQL oracle's sqrt matches it
                            "rms": math.sqrt(ssum / len(xs)),
                            "zero_crossings": zc,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "window_id", "n_samples", "rms", "zero_crossings"],
            )

    return payloads.mapInPandas(
        kernel,
        schema=(
            "doc_id long, window_id int, n_samples long, "
            "rms double, zero_crossings long"
        ),
    )
