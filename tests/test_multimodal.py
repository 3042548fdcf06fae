"""Multimodal binary-column plumbing: schemas, Arrow batch shapes,
the stdlib decoders (BMP, PCM16 WAV, y4m, MP4) and the library gate
every other format takes."""

import re
import struct

import numpy as np
import pytest

from semantic_similarity_system_using_aws_mapreduce_spark.multimodal import (
    MEDIA_SCHEMA,
    codec_support,
    decode_media,
    make_bmp,
    make_mp4,
    make_wav,
    make_y4m,
    synthesize_media,
    synthesize_real_media,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal import core
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.audio import (
    _decode_wav,
    _decode_y4m,
)
from semantic_similarity_system_using_aws_mapreduce_spark.multimodal.codecs_mp4 import (
    _parse_mp4,
)

SUPPORT = codec_support()


def _luma(fn, w, h):
    """Expected BMP checksum: integer ITU-R 601 luma summed over pixels."""
    return sum(
        (299 * fn(x, y)[0] + 587 * fn(x, y)[1] + 114 * fn(x, y)[2]) // 1000
        for y in range(h)
        for x in range(w)
    )


def _with_wav_tag(wav: bytes, tag: int) -> bytes:
    """``wav`` with its fmt chunk's format tag replaced by ``tag``."""
    at = wav.index(b"fmt ") + 8
    return wav[:at] + struct.pack("<H", tag) + wav[at + 2 :]


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_media(spark, n=30).cache()


@pytest.mark.skipif(
    any(SUPPORT.values()), reason="real codecs available; covered by the decode test"
)
def test_decode_real_raises_on_undecodable_format(spark, media):
    """A format neither the stdlib decoders nor any importable library
    can handle fails loudly (NotImplementedError from the executor),
    never silently."""
    avif_only = media.filter("format = 'avif'")
    assert avif_only.count() > 0
    with pytest.raises(Exception, match="no codec available"):
        decode_media(avif_only).collect()


def test_decode_real_stdlib_formats(spark):
    """The real decoder parses the stdlib formats: exact pixel, sample
    and frame arithmetic against independently computed expectations,
    no codec library involved."""
    rows = [
        # 4x2 image, constant pixel (10, 20, 30):
        #   luma = (299*10 + 587*20 + 114*30) // 1000 = 18 per pixel
        (0, "image", make_bmp(4, 2, lambda x, y: (10, 20, 30)), "bmp", 4, 2, None),
        # 5 samples, |sum| = 1+2+3+4+5
        (1, "audio", make_wav([1, -2, 3, -4, 5]), "wav", None, None, 1),
        # 7 frames of 6x4 C420
        (2, "video", make_y4m(6, 4, 7, lambda f, j: f + j), "y4m", 6, 4, 280),
        # 9 samples in the MP4 video track's stsz table
        (3, "video", make_mp4(9), "mp4", 16, 9, 360),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_media(media).collect()}
    assert got[0].pixels_or_samples == 8 and got[0].checksum == 8 * 18
    assert got[1].pixels_or_samples == 5 and got[1].checksum == 15
    assert got[2].pixels_or_samples == 7 and got[2].checksum == 7
    assert got[3].pixels_or_samples == 9 and got[3].checksum == 9
    # the synthesized corpus decodes end-to-end and deterministically
    corpus = synthesize_real_media(spark, n=24)
    assert {r.format for r in corpus.select("format").collect()} == {
        "bmp", "wav", "y4m", "mp4"
    }
    a = sorted(map(tuple, decode_media(corpus).collect()))
    b = sorted(map(tuple, decode_media(corpus).collect()))
    assert a == b and len(a) == 24
    assert all(r[2] > 0 for r in a)  # n_bytes
    # BMP payloads really carry the declared geometry
    img = next(r for r in a if r[1] == "image")
    assert img[4] == 16 * 10  # pixels_or_samples
    # round-trip guard: our own wav bytes reparse to the same samples
    s = np.frombuffer(make_wav([7, -7]), np.uint8)
    assert s[:4].tobytes() == b"RIFF"


def test_y4m_rejects_non_420_chroma():
    """The y4m frame stride is 4:2:0-specific: a C444 stream walked
    with a W*H*3/2 stride can coincidentally align and silently return
    a wrong frame count — it must be rejected up front, not parsed."""
    good = make_y4m(6, 4, 2, lambda f, j: f + j)
    assert _decode_y4m(good) == (2, 2)
    c444 = good.replace(b"\n", b" C444\n", 1)
    with pytest.raises(NotImplementedError, match="C444"):
        _decode_y4m(c444)
    # explicit 420 variants still decode
    c420 = good.replace(b"\n", b" C420jpeg\n", 1)
    assert _decode_y4m(c420) == (2, 2)


def test_wav_rejects_non_pcm16_format_tags():
    """Only PCM16 decodes on the stdlib path.  Every other WAV encoding
    raises NotImplementedError (the library gate's signal), never the
    stdlib reader's wave.Error."""
    pcm = make_wav([1, -2, 3])
    assert _decode_wav(pcm) == (6, 3)
    # IMA-ADPCM, IEEE float, WAVE_FORMAT_EXTENSIBLE
    for tag in (0x0011, 0x0003, 0xFFFE):
        with pytest.raises(NotImplementedError, match=f"0x{tag:04x}"):
            _decode_wav(_with_wav_tag(pcm, tag))
    # PCM tag, 8-bit samples
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([128, 130, 126]))
    with pytest.raises(NotImplementedError, match="PCM16"):
        _decode_wav(buf.getvalue())


@pytest.mark.skipif(
    not SUPPORT.get("image"), reason="PIL not importable in this environment"
)
def test_decode_real_images(spark):
    """Exercised the moment PIL appears: JPEG has no stdlib decoder, so
    genuine JPEG payloads decode through the library branch of the same
    mapInPandas plan."""
    import io

    from PIL import Image

    rows = []
    for i in range(4):
        buf = io.BytesIO()
        Image.new("L", (8, 6), color=i * 40).save(
            buf, format="JPEG", progressive=True
        )
        rows.append((i, "image", buf.getvalue(), "jpeg", 8, 6, None))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_media(media).collect()}
    assert len(got) == 4
    for i, r in got.items():
        assert r.pixels_or_samples == 8 * 6
        # JPEG is lossy; a constant image decodes within +-2/pixel
        assert abs(r.checksum - 8 * 6 * i * 40) <= 8 * 6 * 2


def test_mp4_container_parse_counts_frames(spark):
    """The ISO-BMFF parser really walks boxes: frame count comes off
    the stsz sample table of the hdlr-identified video track — the
    same answer the av branch would give — and garbage or truncated
    streams fail loudly."""
    for nf in (1, 7, 240):
        assert _parse_mp4(make_mp4(nf)) == (nf, nf)
    # through the live plan
    rows = [(0, "video", make_mp4(12), "mp4", 8, 6, 480)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = decode_media(media).collect()[0]
    assert (got.checksum, got.pixels_or_samples) == (12, 12)
    # garbage/truncation -> rejected
    with pytest.raises(ValueError):
        _parse_mp4(b"\x00\x00\x00\x08free not a real mp4")
    data = make_mp4(9)
    for cut in (4, 20, len(data) // 2):
        try:
            _parse_mp4(data[:cut])
        except (ValueError, NotImplementedError):
            pass


def test_mp4_fragmented_frame_counts(spark):
    """Fragmented MP4 (DASH/CMAF): frame counts come off the moof
    fragments' trun boxes, summed for the hdlr-identified video
    track."""
    assert _parse_mp4(make_mp4(0, fragments=[5, 7, 3])) == (15, 15)
    assert _parse_mp4(make_mp4(0, fragments=[1])) == (1, 1)
    assert _parse_mp4(make_mp4(0, fragments=[])) == (0, 0)
    data = make_mp4(0, fragments=[4, 4])
    assert b"moof" in data and b"mvex" in data
    # through the live mapInPandas plan
    rows = [(0, "video", data, "mp4", 8, 6, 320)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = decode_media(media).collect()[0]
    assert (got.checksum, got.pixels_or_samples) == (8, 8)
    # truncation never hangs
    for cut in (10, 40, len(data) // 2):
        try:
            _parse_mp4(data[:cut])
        except (ValueError, NotImplementedError):
            pass


# Formats with no stdlib decoder: a plausible header per format, and a
# PCM16 WAV retagged as IMA-ADPCM, which the stdlib WAV decoder rejects.
_GATED = [
    ("png", "image", b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR" + bytes(17)),
    ("gif", "image", b"GIF89a\x08\x00\x06\x00\x80\x00\x00" + bytes(16)),
    ("jpeg", "image", b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + bytes(16)),
    ("webp", "image", b"RIFF\x1a\x00\x00\x00WEBPVP8L" + bytes(18)),
    ("ico", "image", b"\x00\x00\x01\x00\x01\x00\x08\x06" + bytes(16)),
    ("tiff", "image", b"II*\x00\x08\x00\x00\x00" + bytes(16)),
    ("flac", "audio", b"fLaC\x00\x00\x00\x22" + bytes(34)),
    ("wav", "audio", _with_wav_tag(make_wav([1, -2, 3, -4]), 0x0011)),
]


@pytest.mark.parametrize(
    "fmt,kind,payload",
    _GATED,
    ids=["png", "gif", "jpeg", "webp", "ico", "tiff", "flac", "wav-ima-adpcm"],
)
def test_removed_formats_are_library_gated(spark, fmt, kind, payload):
    """A format without a stdlib decoder takes the library branch for
    its kind.  With no library, ``on_error="raise"`` fails loudly with
    NotImplementedError naming the format, and ``"quarantine"`` nulls
    that one row while its stdlib neighbours decode."""
    if SUPPORT.get(kind):
        pytest.skip(f"a {kind} library is importable; the gate is open")
    gate = f"no codec available for format={fmt!r} kind={kind!r}"
    with pytest.raises(NotImplementedError, match=re.escape(gate)):
        core._decode_one(kind, fmt, payload, SUPPORT)

    fn = lambda x, y: (x * 9 % 256, y * 4 % 256, (x + y) % 256)  # noqa: E731
    rows = [
        (0, "image", make_bmp(8, 6, fn), "bmp", 8, 6, None),
        (1, kind, payload, fmt, None, None, None),
        (2, "audio", make_wav([5, -6, 7]), "wav", None, None, 1),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with pytest.raises(Exception, match=re.escape(f"NotImplementedError: {gate}")):
        decode_media(media).collect()
    got = {r.media_id: r for r in
           decode_media(media, on_error="quarantine").collect()}
    assert got[1].checksum is None and got[1].pixels_or_samples is None
    assert got[1].error.startswith(f"NotImplementedError: {gate}")
    assert got[0].error is None and got[0].checksum == _luma(fn, 8, 6)
    assert got[2].error is None and (got[2].checksum, got[2].pixels_or_samples) == (18, 3)


def test_library_branch_routing(monkeypatch):
    """The kind's library decodes every non-stdlib format and every
    variant a stdlib decoder rejects; a payload the stdlib decodes never
    reaches it.  Without the library, a rejected variant's gate error
    carries the stdlib decoder's reason."""
    calls = []
    monkeypatch.setitem(
        core._LIBRARY_DECODERS, "image", lambda d: calls.append(d) or (7, 1)
    )
    has_pil = {"image": True, "audio": False, "video": False}
    assert core._decode_one("image", "png", b"png bytes", has_pil) == (7, 1)
    bmp = make_bmp(2, 1, lambda x, y: (10, 20, 30))
    bmp32 = bmp[:28] + struct.pack("<H", 32) + bmp[30:]  # 32 bpp: rejected
    assert core._decode_one("image", "bmp", bmp32, has_pil) == (7, 1)
    assert core._decode_one("image", "BMP", bmp, has_pil) == (2 * 18, 2)
    assert calls == [b"png bytes", bmp32]
    with pytest.raises(
        NotImplementedError,
        match=re.escape("format='bmp' kind='image' (only 24-bit uncompressed BMP"),
    ):
        core._decode_one("image", "bmp", bmp32, {"image": False})
    assert core.STDLIB_FORMATS == {"bmp", "wav", "y4m", "mp4"}


def test_decode_media_quarantine_confines_bad_rows(spark):
    """on_error='quarantine': a corrupt payload nulls its OWN row and
    names the failure in the error column — the batch, the task and the
    good rows survive.  Same per-record philosophy as the WARC reader;
    at crawl scale one torn image must never kill a stage."""
    fn = lambda x, y: (x * 9 % 256, y * 4 % 256, (x + y) % 256)  # noqa: E731
    good_bmp = make_bmp(8, 6, fn)
    rows = [
        (0, "image", good_bmp, "bmp", 8, 6, None),
        (1, "image", good_bmp[:80], "bmp", 8, 6, None),  # torn pixel array
        (2, "audio", make_wav([3, -4, 5]), "wav", None, None, 1),
        (3, "image", b"not media at all", "avif", 8, 6, None),
        (4, "image", b"\x89PNG\r\n\x1a\n mislabelled", "bmp", 8, 6, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           decode_media(media, on_error="quarantine").collect()}
    assert got[0].error is None and got[0].pixels_or_samples == 48
    assert got[0].checksum == _luma(fn, 8, 6)
    assert got[2].error is None and got[2].pixels_or_samples == 3
    assert got[1].checksum is None and got[1].error.startswith("ValueError")
    assert got[3].checksum is None and got[3].error.startswith("NotImplementedError")
    assert got[4].checksum is None and "not a BMP" in got[4].error
    # default mode still fails the task loudly
    with pytest.raises(Exception):
        decode_media(media).collect()
    with pytest.raises(ValueError, match="on_error"):
        decode_media(media, on_error="skip")


def test_decode_media_quarantine_skewed_payloads(spark):
    """Media-path scale drill: one HOT multi-MB payload among dozens of
    small ones through quarantine-mode real decode, with
    maxRecordsPerBatch pinned small so the hot row's Arrow batch stays
    bounded (the 100 TB memory contract: peak = batch rows x largest
    decode blow-up, not partition size) and two corrupt rows scattered
    through the batches.  Every row returns: the hot decode is exact,
    each corrupt row quarantines alone, and its batch siblings
    survive."""
    fn = lambda x, y: (x * 9 % 256, y * 4 % 256, (x + y) % 256)  # noqa: E731
    big_w, big_h = 1200, 800  # ~2.9 MB BMP
    rows = []
    for i in range(40):
        rows.append((i, "image", make_bmp(8, 6, fn), "bmp", 8, 6, None))
    hot = make_bmp(big_w, big_h, fn)
    assert len(hot) > 2_500_000
    rows.append((100, "image", hot, "bmp", big_w, big_h, None))
    rows.append((101, "audio", b"RIFF\x10\x00\x00\x00WAVEfmt torn", "wav", None, None, 1))
    rows.append((102, "image", b"BM torn bmp", "bmp", 4, 4, None))
    prior = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2)
        got = {
            r.media_id: r
            for r in decode_media(media, on_error="quarantine").collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prior)
    assert len(got) == 43
    small_sum = _luma(fn, 8, 6)
    for i in range(40):
        assert got[i].error is None and got[i].checksum == small_sum, i
    assert got[100].error is None
    assert got[100].pixels_or_samples == big_w * big_h
    assert got[101].checksum is None and got[101].error
    assert got[102].checksum is None and got[102].error
