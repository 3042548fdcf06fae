"""24-bit uncompressed BMP: a numpy decode (one ``frombuffer`` view of
the pixel array, luma in vectorized integer math) and the encoder the
tests and ``synthesize_real_media`` build payloads with."""

from __future__ import annotations

import numpy as np


def make_bmp(width: int, height: int, rgb_fn) -> bytes:
    """A genuine 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up
    rows, 4-byte row padding).  ``rgb_fn(x, y) -> (r, g, b)`` with y=0
    the TOP row."""
    import struct

    row_size = (3 * width + 3) // 4 * 4
    img_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(width):
            r, g, b = rgb_fn(x, y)
            row += bytes((b & 255, g & 255, r & 255))  # BGR on disk
        row += b"\x00" * (row_size - 3 * width)
        rows.append(bytes(row))
    return header + dib + b"".join(rows)


def _decode_bmp(data: bytes) -> tuple[int, int]:
    """(luma checksum, pixel count) of a 24-bit uncompressed BMP.
    Luma uses the integer ITU-R 601 weights (299R+587G+114B)//1000 —
    documentedly NOT identical to PIL's "L" rounding; the contract is
    determinism of THIS decoder, not PIL emulation."""
    import struct

    if bytes(data[:2]) != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    width = struct.unpack_from("<i", data, 18)[0]
    height = struct.unpack_from("<i", data, 22)[0]
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit uncompressed BMP (got bpp={bpp})")
    hh = abs(height)
    row_size = (3 * width + 3) // 4 * 4
    arr = (
        np.frombuffer(data, np.uint8, count=row_size * hh, offset=offset)
        .reshape(hh, row_size)[:, : 3 * width]
        .reshape(hh, width, 3)
        .astype(np.int64)
    )
    luma = (299 * arr[:, :, 2] + 587 * arr[:, :, 1] + 114 * arr[:, :, 0]) // 1000
    return int(luma.sum()), int(width * hh)
