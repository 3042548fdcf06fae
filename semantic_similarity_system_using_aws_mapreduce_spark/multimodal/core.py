"""Spark-side multimodal surface: schemas, synthetic corpora, and the
mapInPandas decode plan.  The stdlib decoders live in the sibling
modules (codecs_image / audio / codecs_mp4); this module owns
everything the query layer touches: decode_media, codec_support, and
the two synthesizers."""

from __future__ import annotations

import io
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.audio import (
    _decode_wav,
    _decode_y4m,
    make_wav,
    make_y4m,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.codecs_image import (
    _decode_bmp,
    make_bmp,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.codecs_mp4 import (
    _parse_mp4,
    make_mp4,
)
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("data", T.BinaryType(), False),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes int, checksum long, "
    "pixels_or_samples long"
)
DECODED_QUARANTINE_SCHEMA = DECODED_SCHEMA + ", error string"


def synthesize_media(spark: SparkSession, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic fake media table for tests: payload bytes derive
    from (seed, media_id), so every run and every engine sees identical
    binaries."""
    rng = np.random.RandomState(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        size = int(rng.randint(256, 2048))
        data = bytes(bytearray((i * 131 + j * 7) % 256 for j in range(size)))
        rows.append(
            (
                i,
                kind,
                data,
                # avif has no stdlib decoder: fake image bytes must
                # reach the library gate, never a stdlib decode
                {"image": "avif", "audio": "wav", "video": "mp4"}[kind],
                64 if kind != "audio" else None,
                48 if kind != "audio" else None,
                1000 if kind != "image" else None,
            )
        )
    return local_relation(spark, rows, MEDIA_SCHEMA)


def synthesize_real_media(spark: SparkSession, n: int = 24) -> DataFrame:
    """Media table of genuine stdlib-format payloads (24-bit BMP images,
    PCM16 WAV audio, y4m and MP4 video), deterministic content, so
    decode checksums are stable across runs and engines."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            fn = lambda x, y, i=i: (x * 7 + i, y * 11, (x + y) * 3)  # noqa: E731
            rows.append((i, kind, make_bmp(16, 10, fn), "bmp", 16, 10, None))
        elif kind == "audio":
            samples = [((j * 37 + i * 101) % 2048) - 1024 for j in range(400)]
            rows.append((i, kind, make_wav(samples), "wav", None, None, 50))
        elif (i // 3) % 2 == 0:
            # alternate the raw-frame stream and the MP4 container so
            # one table exercises both video parsers
            data = make_y4m(8, 6, 3 + i % 4, lambda f, j, i=i: f * 31 + j + i)
            rows.append((i, kind, data, "y4m", 8, 6, 1000))
        else:
            rows.append((i, kind, make_mp4(3 + i % 4), "mp4", 8, 6, 1000))
    return local_relation(spark, rows, MEDIA_SCHEMA)


def codec_support() -> dict[str, bool]:
    """Probe which real codec libraries are importable RIGHT NOW.
    The container this ships in has none of them; the probe (and the
    skip-marked test over it) makes the real-decoder seam light up the
    moment PIL / soundfile / av appear, instead of staying silently
    dead behind a hardcoded NotImplementedError."""
    import importlib

    support = {}
    for module, kind in (("PIL.Image", "image"), ("soundfile", "audio"), ("av", "video")):
        try:
            importlib.import_module(module)
            support[kind] = True
        except Exception:
            support[kind] = False
    return support


# The formats decoded without a codec library, each with no per-pixel
# or per-sample Python loop.  Every other format is library-gated.
_STDLIB_DECODERS = {
    "bmp": _decode_bmp,
    "wav": _decode_wav,
    "y4m": _decode_y4m,
    "mp4": _parse_mp4,
}
STDLIB_FORMATS = frozenset(_STDLIB_DECODERS)


def _pil_decode(data) -> tuple[int, int]:
    from PIL import Image

    arr = np.asarray(Image.open(io.BytesIO(bytes(data))).convert("L"), dtype=np.int64)
    return int(arr.sum()), int(arr.size)


def _soundfile_decode(data) -> tuple[int, int]:
    import soundfile as sf

    samples, _rate = sf.read(io.BytesIO(bytes(data)))
    return int(np.abs(samples).sum()), int(np.asarray(samples).size)


def _av_decode(data) -> tuple[int, int]:
    import av

    with av.open(io.BytesIO(bytes(data))) as container:
        frames = sum(1 for _ in container.decode(video=0))
    return frames, frames


# One library branch per kind; codec_support() probes the same libraries.
_LIBRARY_DECODERS = {"image": _pil_decode, "audio": _soundfile_decode, "video": _av_decode}


def _decode_one(kind, fmt, data, support: dict[str, bool]) -> tuple[int, int]:
    """Decode ONE payload to (checksum, pixels_or_samples), shared by
    the raise-through and quarantine paths.  A stdlib format decodes
    here; any other format, or a stdlib decoder's NotImplementedError
    (an unsupported variant), goes to the kind's library, and raises
    NotImplementedError naming format and kind when that is absent."""
    fmt = (fmt or "").lower()
    reason = ""
    stdlib = _STDLIB_DECODERS.get(fmt)
    if stdlib is not None:
        try:
            return stdlib(data)
        except NotImplementedError as ex:
            reason = f" ({ex})"
    if support.get(kind):
        return _LIBRARY_DECODERS[kind](data)
    raise NotImplementedError(
        f"no codec available for format={fmt!r} kind={kind!r}{reason}; "
        f"stdlib formats: {sorted(STDLIB_FORMATS)}; probe: {support}"
    )


def _real_decode(pdf: pd.DataFrame, support: dict[str, bool],
                 quarantine: bool = False) -> pd.DataFrame:
    n_bytes, checksums, pixels, errors = [], [], [], []
    for kind, fmt, data in zip(pdf["kind"], pdf["format"], pdf["data"]):
        if quarantine:
            try:
                checksum, count = _decode_one(kind, fmt, data, support)
                errors.append(None)
            except Exception as ex:  # one bad payload, not the batch
                checksum = count = None
                errors.append(f"{type(ex).__name__}: {ex}")
        else:
            checksum, count = _decode_one(kind, fmt, data, support)
        checksums.append(checksum)
        pixels.append(count)
        n_bytes.append(len(data))
    if quarantine:
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": n_bytes,
                "checksum": pd.array(checksums, dtype="Int64"),
                "pixels_or_samples": pd.array(pixels, dtype="Int64"),
                "error": errors,
            }
        )
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"],
            "kind": pdf["kind"],
            "n_bytes": n_bytes,
            "checksum": checksums,
            "pixels_or_samples": pixels,
        }
    )


def decode_media(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Decode binary payloads to per-item metadata via mapInPandas.

    Decodes the stdlib formats (24-bit BMP, PCM16 WAV, y4m, MP4 frame
    counts: :data:`STDLIB_FORMATS`) with no external library, and
    dispatches every other format to the codec library for its kind
    (PIL / soundfile / av, per :func:`codec_support`); with no library
    the row raises NotImplementedError.

    ``on_error`` picks the failure semantics for a payload nothing can
    decode (or that is corrupt): ``"raise"`` fails the task loudly —
    right for tests and known-clean tables; ``"quarantine"`` confines
    the failure to its ONE row (null checksum/pixels plus an ``error``
    column naming the exception), the same per-record philosophy as
    the WARC reader — at crawl scale one torn image must never kill a
    stage after hours of work.  The Spark plan is identical across
    error modes; only the declared schema changes."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"unknown on_error mode {on_error!r}")
    support = codec_support()
    quarantine = on_error == "quarantine"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _real_decode(pdf, support, quarantine=quarantine)

    schema = DECODED_QUARANTINE_SCHEMA if quarantine else DECODED_SCHEMA
    return media.mapInPandas(run, schema=schema)
