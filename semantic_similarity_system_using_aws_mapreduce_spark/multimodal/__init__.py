"""Multimodal columns: image/audio/video payloads as binary columns with
typed metadata, decoded through an Arrow-batched ``mapInPandas``
plan.

Invariant: ``decode_media`` decodes without a codec
library only the formats whose inner loop is numpy or stdlib C, with
no per-pixel or per-sample Python loop: 24-bit BMP (one numpy view of
the pixel array), PCM16 WAV (the stdlib ``wave`` reader plus numpy),
y4m (a walk over fixed-size frames) and MP4 (a box walk to the frame
count).  Every other format, and any variant a stdlib decoder rejects
with NotImplementedError, is library-gated: it decodes through PIL,
soundfile or av (whichever ``codec_support()`` finds for its kind) or
its row raises NotImplementedError naming the format and kind, which
``on_error="quarantine"`` confines to that row.

Design for 100 TB: binary payloads ride the DataFrame as parquet binary
columns (or references to object-store keys for >100 MB blobs);
`mapInPandas` keeps the data in Arrow record batches end to end, one
Python worker per core, and `maxRecordsPerBatch` bounds peak memory
(decode blow-up factor x batch size).
"""

from __future__ import annotations

from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.audio import (
    make_wav,
    make_y4m,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.codecs_image import (
    make_bmp,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.codecs_mp4 import (
    make_mp4,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.core import (
    DECODED_QUARANTINE_SCHEMA,
    DECODED_SCHEMA,
    MEDIA_SCHEMA,
    STDLIB_FORMATS,
    codec_support,
    decode_media,
    synthesize_media,
    synthesize_real_media,
)
