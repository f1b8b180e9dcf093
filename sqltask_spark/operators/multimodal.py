"""Multimodal column plumbing: opaque binary payloads + typed metadata.

North-star extension. Design for 100 TB of mixed media:

- media travels as an opaque ``binary`` column plus a typed metadata
  struct (mime, width/height/duration, source URI) — never decoded
  until a consumer stage needs pixels/samples;
- decode / resize / frame-sample run as Arrow-batched ``mapInPandas``
  stages so each Python worker touches a whole batch (and can
  early-exit on metadata filters pushed *before* the decode stage —
  the expensive step sees only surviving rows);
- actual codec work (PIL/ffmpeg/soundfile) is NOT available in this
  environment, so the codec boundary is isolated behind
  ``decode_payload`` which raises ``NotImplementedError`` unless the
  deterministic fake codec is requested. The Spark-side contract —
  schemas, batch iteration, partitioning — is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqltask_spark.data import local_frame

#: Metadata struct carried alongside every media payload.
MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("uri", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _have_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


#: Computed once per Python worker at import; the decode stages below
#: consult it so the SAME pipeline runs the real codec where pillow
#: is installed and the deterministic fake elsewhere.
HAVE_PIL = _have_pil()

#: Real image decodes normalize to this thumbnail so downstream
#: feature extraction sees a fixed-length byte stream regardless of
#: source resolution (8×8 RGB = 192 bytes ≥ the 64 bytes the
#: feature slicer reads).
_DECODE_THUMB = (8, 8)


def decode_payload(payload: bytes, mime: str, fake: bool = False) -> bytes:
    """Codec boundary — the ONE function a real deployment's media
    stack plugs into.

    ``fake=True``: deterministic pseudo-decode (sha256 stream
    expansion) so the distributed pipeline around the codec is
    exercised end-to-end in environments without codec libraries.

    ``fake=False``: image mimes decode through pillow when it is
    importable (optional dependency — decode, convert to RGB,
    normalize to an 8×8 thumbnail so the byte stream has a fixed
    length for the downstream feature slicer). Audio/video decoding
    (ffmpeg/soundfile) and image decode without pillow raise
    ``NotImplementedError`` — honestly absent, never silently faked.
    """
    if fake:
        out = bytearray()
        seed = hashlib.sha256(payload).digest()
        while len(out) < 64:
            seed = hashlib.sha256(seed).digest()
            out.extend(seed)
        return bytes(out[:64])
    if mime.startswith("image/") and HAVE_PIL:
        from io import BytesIO

        from PIL import Image

        with Image.open(BytesIO(payload)) as im:
            return (
                im.convert("RGB")
                .resize(_DECODE_THUMB, Image.BILINEAR)
                .tobytes()
            )
    raise NotImplementedError(
        f"no codec available for {mime!r}: install pillow (images) or "
        "wire ffmpeg/soundfile here (audio/video)"
    )


def resize_payload(
    payload: bytes,
    mime: str,
    target_w: int,
    target_h: int,
    fake: bool = False,
) -> bytes:
    """Resize boundary: raw RGB bytes of the resized image
    (``target_w·target_h·3`` bytes in BOTH modes, so schemas and
    byte counts agree across environments). Real path = pillow
    decode + BILINEAR resize; fake path = deterministic sha256
    expansion of (payload, w, h)."""
    if not fake:
        if mime.startswith("image/") and HAVE_PIL:
            from io import BytesIO

            from PIL import Image

            with Image.open(BytesIO(payload)) as im:
                return (
                    im.convert("RGB")
                    .resize((target_w, target_h), Image.BILINEAR)
                    .tobytes()
                )
        raise NotImplementedError(
            f"no codec available for {mime!r}: install pillow"
        )
    n = target_w * target_h * 3
    out = bytearray()
    seed = hashlib.sha256(
        payload
        + target_w.to_bytes(4, "big")
        + target_h.to_bytes(4, "big")
    ).digest()
    while len(out) < n:
        seed = hashlib.sha256(seed).digest()
        out.extend(seed)
    return bytes(out[:n])


def extract_features(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    meta_col: str = "meta",
    fake_codec: bool = True,
    feature_dim: int = 16,
) -> DataFrame:
    """Decode + featurize media payloads via Arrow-batched mapInPandas.

    The returned features are deterministic functions of the payload
    bytes (via the fake codec) so tests can assert exact values; a
    real deployment swaps ``decode_payload``'s internals only.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[payload_col])
                mime = row[f"{meta_col}.mime"] if f"{meta_col}.mime" in pdf.columns else row["mime"]
                decoded = decode_payload(payload, mime, fake=fake_codec)
                feat = [
                    int.from_bytes(decoded[4 * i : 4 * i + 2], "big")
                    / 65535.0
                    for i in range(feature_dim)
                ]
                rows.append(
                    {
                        "media_id": row[id_col],
                        "mime": mime,
                        "n_bytes": len(payload),
                        "sha256": hashlib.sha256(payload).hexdigest(),
                        "feature": feat,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "mime", "n_bytes", "sha256", "feature"
                ],
            )

    flat = df.select(
        F.col(id_col),
        F.col(payload_col),
        F.col(f"{meta_col}.mime").alias("mime"),
    )
    return flat.mapInPandas(process, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("resized_sha256", T.StringType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    id_col: str = "media_id",
    payload_col: str = "payload",
    meta_col: str = "meta",
    fake_codec: bool = True,
) -> DataFrame:
    """Batch image resize behind the codec boundary.

    The mime filter is a JVM-side metadata predicate applied BEFORE
    the Python stage, so non-image rows never cross the Arrow
    boundary — the pattern every expensive multimodal stage here
    follows. Both codec modes produce the same schema and byte
    counts: the real path (pillow installed, ``fake_codec=False``)
    digests the actual resized RGB buffer, the fake path a
    deterministic stand-in of identical length — payload bytes stay
    out of the result to keep the demo output small; a real pipeline
    returns the resized buffer as a binary column with the same
    schema discipline.
    """

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[payload_col])
                resized = resize_payload(
                    payload, row["mime"], target_w, target_h,
                    fake=fake_codec,
                )
                rows.append(
                    {
                        "media_id": row[id_col],
                        "width": target_w,
                        "height": target_h,
                        "n_bytes": len(resized),
                        "resized_sha256": hashlib.sha256(
                            resized
                        ).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "n_bytes",
                         "resized_sha256"],
            )

    imgs = df.filter(F.col(f"{meta_col}.mime").startswith("image/")).select(
        F.col(id_col), F.col(payload_col),
        F.col(f"{meta_col}.mime").alias("mime"),
    )
    return imgs.mapInPandas(process, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("frame_sha256", T.StringType()),
    ]
)


def frame_timestamps(
    duration_ms: F.Column, every_ms: int, max_frames: int
) -> F.Column:
    """Sampled frame timestamps as a JVM array expression: one frame
    every ``every_ms`` from t=0, capped at ``max_frames``. Computed
    from metadata only — the explosion into per-frame rows happens
    BEFORE any decode, so each downstream decode task carries one
    (payload, ts) work unit and frame parallelism is free."""
    n = F.least(
        F.floor(duration_ms / every_ms).cast("int") + 1, F.lit(max_frames)
    )
    return F.transform(
        F.sequence(F.lit(0), n - 1), lambda i: (i * every_ms).cast("long")
    )


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 8,
    id_col: str = "media_id",
    payload_col: str = "payload",
    meta_col: str = "meta",
    fake_codec: bool = True,
) -> DataFrame:
    """Frame sampling for video payloads: metadata mime filter →
    JVM-side timestamp explode → per-frame fake decode via
    mapInPandas. The fake frame digest is a deterministic function of
    (payload, ts_ms), standing in for an ffmpeg seek+decode."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[payload_col])
                decoded = decode_payload(payload, row["mime"], fake=fake_codec)
                ts = int(row["ts_ms"])
                digest = hashlib.sha256(
                    decoded + ts.to_bytes(8, "big")
                ).hexdigest()
                rows.append(
                    {
                        "media_id": row[id_col],
                        "frame_idx": int(row["frame_idx"]),
                        "ts_ms": ts,
                        "frame_sha256": digest,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "ts_ms", "frame_sha256"],
            )

    vids = df.filter(F.col(f"{meta_col}.mime").startswith("video/")).select(
        F.col(id_col),
        F.col(payload_col),
        F.col(f"{meta_col}.mime").alias("mime"),
        F.posexplode(
            frame_timestamps(
                F.col(f"{meta_col}.duration_ms"), every_ms, max_frames
            )
        ).alias("frame_idx", "ts_ms"),
    )
    return vids.mapInPandas(process, FRAME_SCHEMA)


def make_media_table(
    spark, n: int = 32, seed: int = 7
) -> DataFrame:
    """Deterministic synthetic media table for tests: binary payloads
    with metadata, no external files needed."""
    import random

    rng = random.Random(seed)
    mimes = ["image/png", "image/jpeg", "audio/wav", "video/mp4"]
    rows = []
    for i in range(n):
        size = rng.randrange(64, 512)
        payload = bytes(rng.randrange(256) for _ in range(size))
        mime = mimes[i % len(mimes)]
        rows.append(
            (
                i,
                payload,
                (
                    mime,
                    rng.randrange(16, 4096) if mime.startswith("image") else None,
                    rng.randrange(16, 4096) if mime.startswith("image") else None,
                    rng.randrange(1000, 600000)
                    if not mime.startswith("image")
                    else None,
                    f"synthetic://media/{i}",
                ),
            )
        )
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", MEDIA_META_TYPE),
        ]
    )
    return local_frame(spark, rows, schema)
