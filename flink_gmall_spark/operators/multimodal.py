"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed by Arrow-batched pandas stages (``mapInPandas``).

The pattern a 100 TB multimodal pipeline needs: payloads stay opaque bytes
in the DataFrame (never exploded into rows), metadata rides alongside, and
decode / feature-extract / resize / frame-sample run as per-batch pandas
functions. The image/audio codecs are not in this container, so the decode
stage is a deterministic byte-level feature extractor with the real codec
path stubbed behind ``NotImplementedError`` — schema, batching and
partitioning are the real, tested plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.sources import load

DECODE_SCHEMA = (
    "doc_id long, modality string, n_bytes long, first_cp long, last_cp long"
)


def decode_image(payload: bytes) -> object:  # pragma: no cover - stub
    """Real codec stage — requires PIL/libjpeg, absent in this container.

    Deployment would do ``Image.open(io.BytesIO(payload))`` here inside the
    same mapInPandas batch loop.
    """
    raise NotImplementedError("image codecs not available in this environment")


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic per-batch feature extraction over binary payloads.

    Runs once per Arrow batch (not per row): the payload column arrives as
    Python bytes; features are byte length + first/last UTF-8 codepoint.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        texts = payloads.map(lambda b: bytes(b).decode("utf-8"))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "n_bytes": payloads.map(len).astype("int64"),
                "first_cp": texts.map(lambda s: ord(s[0]) if s else -1).astype("int64"),
                "last_cp": texts.map(lambda s: ord(s[-1]) if s else -1).astype("int64"),
            }
        )


def binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text → binary payload + metadata struct →
    mapInPandas feature extraction. The oracle recomputes the same
    features from the source text, proving the bytes survived the
    round-trip through Arrow unharmed."""
    docs = load(spark, sf_dir, "documents")
    binarized = docs.select(
        "doc_id",
        F.lit("text/plain").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return binarized.mapInPandas(_extract_features, DECODE_SCHEMA)


FRAME_BYTES = 256

FRAME_SCHEMA = "doc_id long, frame_idx long, frame_len long, frame_head long"


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame-sampling stage: chunk each binary payload into fixed-size
    frames and emit one row per frame — the row-shape a video/audio
    frame-sampler produces (decode stubbed; chunking + fan-out is the
    real plumbing). Runs per Arrow batch; output row count differs from
    input (mapInPandas's UDTF-like property)."""
    for pdf in batches:
        doc_ids, idxs, lens, heads = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            for i in range(0, max(len(b), 1), FRAME_BYTES):
                frame = b[i : i + FRAME_BYTES]
                doc_ids.append(doc_id)
                idxs.append(i // FRAME_BYTES)
                lens.append(len(frame))
                heads.append(frame[0] if frame else -1)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "frame_len": pd.Series(lens, dtype="int64"),
                "frame_head": pd.Series(heads, dtype="int64"),
            }
        )


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: binary payload → one row per fixed-size
    frame via mapInPandas (the 1:N batch fan-out a frame-sampler needs).
    The oracle reconstructs frame geometry arithmetically from the text
    (char==byte positions; valid because the corpus is pure ASCII —
    verified at every SF — the engine side chunks true bytes either way)."""
    docs = load(spark, sf_dir, "documents")
    binarized = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return binarized.mapInPandas(_sample_frames, FRAME_SCHEMA)


ORACLE_FRAME_SAMPLE = f"""
WITH b AS (
    SELECT doc_id, octet_length(encode(text)) AS n, text FROM documents
),
frames AS (
    SELECT doc_id, n, unnest(range(0, greatest((n + {FRAME_BYTES} - 1) // {FRAME_BYTES}, 1))) AS frame_idx
    FROM b
)
SELECT f.doc_id,
       CAST(f.frame_idx AS BIGINT) AS frame_idx,
       CAST(least({FRAME_BYTES}, f.n - f.frame_idx * {FRAME_BYTES}) AS BIGINT) AS frame_len,
       CAST(CASE WHEN f.n = 0 THEN -1
                 ELSE ascii(substring(b.text, f.frame_idx * {FRAME_BYTES} + 1, 1)) END AS BIGINT) AS frame_head
FROM frames f JOIN b ON f.doc_id = b.doc_id
"""

ORACLE_BINARY_FEATURES = """
SELECT doc_id,
       'text/plain' AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ascii(substring(text, 1, 1)) END AS BIGINT) AS first_cp,
       CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ascii(substring(text, length(text), 1)) END AS BIGINT) AS last_cp
FROM documents
"""


RESIZE_TARGET = 64  # downsample every payload to <= this many samples

RESIZE_SCHEMA = "doc_id long, orig_len long, stride long, resized_len long, resized_sum long, resized_head long"


def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize stage: stride-downsample each payload to <= RESIZE_TARGET
    samples (the thumbnail/waveform-decimation shape: output size is
    bounded regardless of input size). A real image resize would decode
    first (see decode_image); the byte-stride keeps the stage
    deterministic and testable while exercising identical plumbing —
    binary in, bounded binary out, per Arrow batch."""
    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "orig_len", "stride", "resized_len", "resized_sum", "resized_head")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            n = len(b)
            stride = max(1, -(-n // RESIZE_TARGET))
            r = b[::stride]
            rows["doc_id"].append(doc_id)
            rows["orig_len"].append(n)
            rows["stride"].append(stride)
            rows["resized_len"].append(len(r))
            rows["resized_sum"].append(int(sum(r)))
            rows["resized_head"].append(r[0] if r else -1)
        yield pd.DataFrame({k: pd.Series(v, dtype="int64") for k, v in rows.items()})


def resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize/decimation: binary payload → bounded-size sample
    via mapInPandas. The oracle recomputes the stride arithmetic over the
    (ASCII, see frame_sample) source text."""
    docs = load(spark, sf_dir, "documents")
    binarized = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return binarized.mapInPandas(_resize, RESIZE_SCHEMA)


ORACLE_RESIZE = f"""
WITH b AS (
    SELECT doc_id, octet_length(encode(text)) AS n, text FROM documents
),
s AS (
    SELECT doc_id, n,
           greatest(1, (n + {RESIZE_TARGET} - 1) // {RESIZE_TARGET}) AS stride
    FROM b
)
SELECT s.doc_id,
       CAST(s.n AS BIGINT) AS orig_len,
       CAST(s.stride AS BIGINT) AS stride,
       CAST((s.n + s.stride - 1) // s.stride AS BIGINT) AS resized_len,
       CAST(COALESCE(list_sum(list_transform(
           range(0, (s.n + s.stride - 1) // s.stride),
           i -> ascii(substring(b.text, i * s.stride + 1, 1)))), 0) AS BIGINT) AS resized_sum,
       CAST(CASE WHEN s.n = 0 THEN -1 ELSE ascii(substring(b.text, 1, 1)) END AS BIGINT) AS resized_head
FROM s JOIN b USING (doc_id)
"""


EMBED_BUCKETS = 16

EMBED_SCHEMA = "doc_id long, bucket long, ct long"


def _embed_stub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Feature-embedding stage (the 'CLIP-embed the payload' slot): a
    deterministic byte-nibble histogram stands in for the model forward
    pass (decode_image documents the real-codec seam). One output row
    per (payload, bucket) — long form keeps the driver-comparable
    surface scalar (arrays don't hash portably)."""
    for pdf in batches:
        doc_ids, buckets, cts = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            hist = [0] * EMBED_BUCKETS
            for byte in b:
                hist[byte >> 4] += 1
            for i, ct in enumerate(hist):
                doc_ids.append(doc_id)
                buckets.append(i)
                cts.append(ct)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "bucket": pd.Series(buckets, dtype="int64"),
                "ct": pd.Series(cts, dtype="int64"),
            }
        )


def embed_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary payload → fixed-width feature
    vector (here the 16-bucket byte-nibble histogram) via mapInPandas —
    the stage that turns opaque payloads into vectors the similarity
    operators (operators.ann) consume. Output size is docs × 16
    regardless of payload size: bounded, like a real embedding."""
    docs = load(spark, sf_dir, "documents")
    binarized = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return binarized.mapInPandas(_embed_stub, EMBED_SCHEMA)


ORACLE_EMBED_STUB = f"""
WITH b AS (
    SELECT doc_id, text, length(text) AS n FROM documents
),
x AS (
    SELECT doc_id, text, n, unnest(range(0, {EMBED_BUCKETS})) AS bucket FROM b
)
SELECT doc_id,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(len(list_filter(range(1, n + 1),
                i -> ascii(substring(text, i, 1)) // 16 = bucket)) AS BIGINT) AS ct
FROM x
"""
