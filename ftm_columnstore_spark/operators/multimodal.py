"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata (north-star extension).

Design (the part that matters at 100 TB):

- media travels as a ``binary`` column next to a ``media_meta`` struct
  (mime, width/height/duration/sample_rate/codec) so planning decisions
  (filter by mime, partition by modality, prune oversized blobs) happen on
  cheap metadata columns without touching bytes;
- decode / feature-extract / resize / frame-sample run as **mapInPandas**
  stages: Arrow-batched, one Python worker per partition, constant memory
  (iterator of batches — a partition never fully materializes);
- codecs resolve in three tiers: Pillow when importable (JPEG/PNG/...),
  else the dependency-free BMP/WAV codecs in ``operators.codecs`` (pure
  numpy / stdlib ``wave`` — REAL decode paths, tested end-to-end), else
  the deterministic stand-in when ``fake=True``. Unsupported payloads
  with ``fake=False`` raise, so bad data fails loudly rather than
  silently producing stand-in features.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ftm_columnstore_spark.lifecycle import persist, persisting

MEDIA_META = StructType(
    [
        StructField("mime", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("codec", StringType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("meta", MEDIA_META, False),
    ]
)


def _decode_image(payload: bytes, fake: bool) -> list[float]:
    """Image → feature vector. Pillow/BMP real decode when the payload
    is readable; deterministic stand-in only when ``fake=True``."""
    from ftm_columnstore_spark.operators import codecs

    try:
        return codecs.image_features(codecs.decode_image(payload))
    except Exception as exc:  # struct/wave errors on arbitrary bytes
        if not fake:
            raise NotImplementedError(
                f"payload not decodable in this environment ({exc}); "
                "pass fake=True for the deterministic stand-in"
            ) from exc
    h = hashlib.sha1(payload).digest()
    return [b / 255.0 for b in h[:16]]


def _decode_audio_frames(payload: bytes, n: int, fake: bool) -> list[bytes]:
    """Audio → n sampled chunks. WAV payloads decode for real (stdlib
    ``wave``); other formats need ``fake=True`` (byte-range stand-in)."""
    from ftm_columnstore_spark.operators import codecs

    try:
        return codecs.split_wav(payload, n)
    except Exception as exc:  # struct/wave errors on arbitrary bytes
        if not fake:
            raise NotImplementedError(
                f"payload not decodable in this environment ({exc}); "
                "pass fake=True for the deterministic stand-in"
            ) from exc
    step = max(1, len(payload) // max(n, 1))
    return [payload[i * step : (i + 1) * step] for i in range(min(n, len(payload)))]


def attach_meta(
    df: DataFrame, payload_col: str = "payload", mime: str = "application/octet-stream"
) -> DataFrame:
    """Derive a metadata struct for raw blobs (cheap, columnar)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(payload_col).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("string").alias("codec"),
        ),
    )


def extract_features(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    dim: int = 16,
    fake: bool = False,
) -> DataFrame:
    """binary → feature vector via mapInPandas (Arrow batches, streaming
    iterator — constant memory per partition)."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("features", ArrayType(FloatType(), False), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "features": [
                        _decode_image(bytes(p), fake)[:dim] for p in pdf[payload_col]
                    ],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(batches, out_schema)


def sample_frames(
    media: DataFrame,
    n_frames: int = 4,
    id_col: str = "media_id",
    payload_col: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """binary → n sampled frames (one output row per frame), mapInPandas."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_no", IntegerType(), False),
            StructField("frame", BinaryType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nos, frames = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                for i, fr in enumerate(
                    _decode_audio_frames(bytes(payload), n_frames, fake)
                ):
                    ids.append(mid)
                    nos.append(i)
                    frames.append(fr)
            if ids:  # empty frames default to float64 (no BinaryType)
                yield pd.DataFrame(
                    {"media_id": ids, "frame_no": nos, "frame": frames}
                )

    return media.select(id_col, payload_col).mapInPandas(batches, out_schema)


def _resize_image(
    payload: bytes, width: int, height: int, fake: bool,
    nearest: bool = False,
) -> bytes:
    """Image resize: Pillow resample when importable, else pure-numpy
    nearest-neighbour over BMP; stand-in only when ``fake=True``.
    ``nearest=True`` forces the environment-independent numpy
    resampler."""
    from ftm_columnstore_spark.operators import codecs

    try:
        return codecs.resize_image(payload, width, height, nearest=nearest)
    except Exception as exc:  # struct errors on arbitrary bytes
        if not fake:
            raise NotImplementedError(
                f"payload not decodable in this environment ({exc}); "
                "pass fake=True for the deterministic stand-in"
            ) from exc
    # deterministic stand-in scaled to the target pixel count
    seed = hashlib.sha1(payload + f"{width}x{height}".encode()).digest()
    out_len = max(1, min(width * height, 4096))
    reps = out_len // len(seed) + 1
    return (seed * reps)[:out_len]


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
    fake: bool = False,
    nearest: bool = False,
) -> DataFrame:
    """binary → resized binary + updated meta dims, mapInPandas. The
    output keeps the (payload, meta) column pair so resized media flows
    back through the same pipeline stages."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("payload", BinaryType(), False),
            StructField("meta", MEDIA_META, False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [
                _resize_image(bytes(p), width, height, fake, nearest)
                for p in pdf[payload_col]
            ]
            metas = [
                {**(dict(m) if m is not None else {"mime": "image/unknown"}),
                 "width": width, "height": height}
                for m in pdf["meta"]
            ]
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "payload": resized, "meta": metas}
            )

    return media.select(id_col, payload_col, "meta").mapInPandas(
        batches, out_schema
    )


def filter_by_mime(media: DataFrame, mime_prefix: str) -> DataFrame:
    """Metadata-only predicate — never touches payload bytes, so column
    pruning keeps the blob column out of the scan entirely."""
    return media.filter(F.col("meta.mime").startswith(mime_prefix))


def image_ahash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual average-hash of each image: decode (real codec),
    nearest-neighbour resize to ``hash_size``² grayscale, one bit per
    cell = "brighter than the image mean" — packed into a 64-bit int
    (for the default 8×8). EXACT integer arithmetic end-to-end: the
    grayscale cell value is the channel SUM (no /3 division), and the
    bit test is ``cells · v > Σv`` (no float mean), so the hash is
    bit-reproducible by any replayer of the pixel math.

    Near-identical images (re-encodes, small edits) agree on almost
    every bit; pair them with :func:`image_dup_pairs`, which reuses the
    SimHash pigeonhole machinery. mapInPandas, constant memory;
    output (media_id, ahash long)."""
    import numpy as np

    from ftm_columnstore_spark.operators import codecs

    if hash_size * hash_size > 64:
        raise ValueError(
            f"hash_size² must fit 64 bits, got {hash_size}"
        )
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ahash", LongType(), False),
        ]
    )

    def one(payload: bytes) -> int:
        img = codecs.decode_image(bytes(payload))
        h, w = img.shape[:2]
        ys = (np.arange(hash_size) * h) // hash_size
        xs = (np.arange(hash_size) * w) // hash_size
        cells = img[np.ix_(ys, xs)].astype(np.int64)
        if cells.ndim == 3:
            cells = cells.sum(axis=-1)
        total = int(cells.sum())
        n = hash_size * hash_size
        bits = (cells * n > total).flatten()
        out = 0
        for i, b in enumerate(bits):
            if b:
                out |= 1 << i
        # keep the packed value in signed-int64 range (bit 63 set)
        return out - (1 << 64) if out >= (1 << 63) else out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "ahash": [one(p) for p in pdf[payload_col]],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(batches, out_schema)


@persisting
def _fingerprint_pairs(
    hashed, bands: int, max_hamming: int, max_bucket: int
):
    """64-bit fingerprint relation (media_id, ahash) → near-dup pairs:
    chunk split + the shared SimHash pigeonhole join (one contract for
    image and audio fingerprints)."""
    from pyspark.sql import functions as F

    from ftm_columnstore_spark.operators.dedup import (
        _check_simhash_params,
        hamming_pairs_from_chunks,
    )

    _check_simhash_params(bands, max_hamming)
    width = 64 // bands
    mask = (1 << width) - 1
    chunks = hashed.select(
        F.col("media_id").alias("id"),
        *[
            F.shiftrightunsigned("ahash", b * width)
            .bitwiseAND(F.lit(mask))
            .alias(f"c{b}")
            for b in range(bands)
        ],
    ).transform(persist)
    chunks.count()
    return hamming_pairs_from_chunks(chunks, bands, max_hamming, max_bucket)


def image_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-duplicate image pairs: aHash → 16-bit chunk split →
    the SAME pigeonhole banded join as text SimHash
    (``operators.dedup.hamming_pairs_from_chunks`` — any pair within
    ``max_hamming`` < ``bands`` shares an exact chunk). The multimodal
    dedup path at 100 TB: hashing is one map-only decode pass, pairing
    never compares images, only 64-bit ints. Output:
    (left_id, right_id, hamming)."""
    return _fingerprint_pairs(
        image_ahash(media, id_col, payload_col), bands, max_hamming, max_bucket
    )


def audio_ahash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_frames: int = 64,
) -> DataFrame:
    """Energy-signature fingerprint of each audio payload: decode (real
    WAV codec), split the samples into ``n_frames`` contiguous frames
    (exact integer bounds ``i·N // n_frames``), one bit per frame =
    "frame |PCM| energy above the clip's mean" — packed into a 64-bit
    int. Same exact-integer contract as :func:`image_ahash`: the frame
    energy is the SUM of |sample| values and the bit test is
    ``n_frames · e > Σe`` — no divisions, no floats, bit-reproducible.
    Near-identical clips (re-encodes, level-preserving edits) agree on
    almost every bit; pair with :func:`audio_dup_pairs`. Output:
    (media_id, ahash long)."""
    import numpy as np

    from ftm_columnstore_spark.operators import codecs

    if n_frames > 64:
        raise ValueError(f"n_frames must fit 64 bits, got {n_frames}")
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ahash", LongType(), False),
        ]
    )

    def one(payload: bytes) -> int:
        pcm, _ = codecs.decode_wav(bytes(payload))
        a = np.abs(pcm.astype(np.int64))
        n = len(a)
        energies = []
        for i in range(n_frames):
            lo, hi = (i * n) // n_frames, ((i + 1) * n) // n_frames
            energies.append(int(a[lo:hi].sum()))
        total = sum(energies)
        out = 0
        for i, e in enumerate(energies):
            if e * n_frames > total:
                out |= 1 << i
        return out - (1 << 64) if out >= (1 << 63) else out

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "ahash": [one(p) for p in pdf[payload_col]],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(batches, out_schema)


def audio_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-duplicate audio pairs: :func:`audio_ahash` → 16-bit chunks →
    the shared SimHash pigeonhole join (same contract as
    :func:`image_dup_pairs`). Output: (left_id, right_id, hamming)."""
    return _fingerprint_pairs(
        audio_ahash(media, id_col, payload_col), bands, max_hamming, max_bucket
    )
