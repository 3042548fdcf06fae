"""PCM16 WAV audio and YUV4MPEG2 (y4m) raw video, stdlib + numpy: the
WAV samples come from the stdlib ``wave`` reader as one numpy view, and
a y4m stream is a header parse plus a walk of its fixed-size frames.
Both encoders build the payloads tests and ``synthesize_real_media``
use."""

from __future__ import annotations

import numpy as np


def make_wav(samples, rate: int = 8000, channels: int = 1) -> bytes:
    """A genuine PCM16 WAV via the stdlib ``wave`` writer."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def make_y4m(width: int, height: int, n_frames: int, fill_fn) -> bytes:
    """A genuine YUV4MPEG2 stream (C420: each frame is W*H luma bytes +
    2 quarter-size chroma planes).  ``fill_fn(frame, j) -> int`` fills
    byte j of the frame payload."""
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()
    fsize = width * height * 3 // 2
    frames = [
        b"FRAME\n" + bytes(bytearray(fill_fn(i, j) % 256 for j in range(fsize)))
        for i in range(n_frames)
    ]
    return head + b"".join(frames)


def _decode_wav(data: bytes) -> tuple[int, int]:
    """(sum of |samples|, sample count) of a PCM16 WAV via the stdlib
    ``wave`` reader.  Any other encoding (IMA-ADPCM, float, 8/24-bit
    PCM) raises NotImplementedError, so it takes the library gate."""
    import io
    import struct
    import wave

    raw_bytes = bytes(data)
    # sniff the fmt tag: wave.open throws an opaque wave.Error on non-PCM
    if raw_bytes[:4] == b"RIFF" and b"fmt " in raw_bytes[:64]:
        at = raw_bytes.index(b"fmt ") + 8
        tag = struct.unpack_from("<H", raw_bytes, at)[0]
        if tag != 0x0001:  # WAVE_FORMAT_PCM, the one tag ``wave`` reads
            raise NotImplementedError(f"WAV format tag 0x{tag:04x}; only PCM16")
    with wave.open(io.BytesIO(raw_bytes)) as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 WAV")
        raw = w.readframes(w.getnframes())
    s = np.frombuffer(raw, "<i2").astype(np.int64)
    return int(np.abs(s).sum()), int(s.size)


def _decode_y4m(data: bytes) -> tuple[int, int]:
    """(frame count, frame count) of a YUV4MPEG2 stream — the same
    frames-decoded semantics as the av-backed video branch."""
    data = bytes(data)
    nl = data.index(b"\n")
    header = data[:nl].decode("ascii")
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a y4m payload")
    params = {p[0]: p[1:] for p in header.split()[1:]}
    # the frame stride below is 4:2:0-specific; a C422/C444 stream
    # walked with it usually raises on a bad FRAME marker but can
    # coincidentally align and return a wrong frame count — reject
    # anything but 420 variants (C420, C420jpeg, C420paldv) up front
    chroma = params.get("C", "420")
    if not chroma.startswith("420"):
        raise NotImplementedError(f"y4m chroma subsampling C{chroma}; only C420*")
    fsize = int(params["W"]) * int(params["H"]) * 3 // 2
    pos, frames = nl + 1, 0
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at {pos}")
        pos = data.index(b"\n", pos) + 1 + fsize
        frames += 1
    return frames, frames
