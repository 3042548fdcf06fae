"""MP4 / ISO-BMFF (ISO 14496-12) container metadata: box walk, video
track discovery via hdlr, and the frame count off the stsz/stz2 sample
table plus, for fragmented (DASH/CMAF) streams, the moof fragments'
trun boxes.  That is the answer the av library branch gives
(checksum == count == n_frames, the y4m convention) without an H.264
decode; pixel decoding is library-gated."""

from __future__ import annotations


def _mp4_box(typ: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(body)) + typ + body


def make_mp4(
    n_frames: int,
    width: int = 16,
    height: int = 9,
    fragments: list[int] | None = None,
) -> bytes:
    """A structurally GENUINE MP4: ftyp + moov with a complete
    video-track sample table (stts/stsc/stsz/stco) + mdat.  Sample
    payloads are dummy bytes (encoding real H.264 is the library-gated
    part); every box the parser walks is real.

    ``fragments=[n1, n2, ...]`` writes the FRAGMENTED (DASH/CMAF)
    form instead: the moov's sample table declares zero samples and
    carries an mvex/trex, and each fragment is a moof (mfhd sequence
    number, traf with tfhd track_ID + one trun per fragment carrying
    its sample_count) followed by its mdat — the layout whose frame
    counts live in the fragments, not the moov."""
    import struct

    b = _mp4_box
    if fragments is not None:
        n_frames = 0  # the moov-side stsz declares zero samples
    sample_sizes = [16 + (i % 7) for i in range(n_frames)]
    # box bodies padded to their spec-exact v0 sizes (mvhd 100, tkhd
    # 84, mdhd 24) — the parser only reads the sample table, but the
    # fixture should BE a well-formed file
    mvhd = b(b"mvhd", struct.pack(">I2I2I", 0, 0, 0, 1000, n_frames * 40) + b"\x00" * 80)
    tkhd = b(b"tkhd", struct.pack(">I2I2I", 7, 0, 0, 1, 0) + b"\x00" * 64)
    mdhd = b(b"mdhd", struct.pack(">I2I2I", 0, 0, 0, 1000, n_frames * 40) + b"\x00" * 4)
    hdlr = b(b"hdlr", struct.pack(">II", 0, 0) + b"vide" + b"\x00" * 12 + b"engine\x00")
    stsd = b(b"stsd", struct.pack(">II", 0, 1) + b(b"mp4v", b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 70))
    stts = b(b"stts", struct.pack(">IIII", 0, 1, n_frames, 40))
    stsc = b(b"stsc", struct.pack(">IIIII", 0, 1, 1, n_frames, 1))
    stsz = b(b"stsz", struct.pack(">III", 0, 0, n_frames) + b"".join(struct.pack(">I", s) for s in sample_sizes))
    stco = b(b"stco", struct.pack(">III", 0, 1, 0))
    stbl = b(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = b(b"vmhd", struct.pack(">I", 1) + b"\x00" * 8)
    dinf = b(b"dinf", b(b"dref", struct.pack(">II", 0, 1) + b(b"url ", struct.pack(">I", 1))))
    minf = b(b"minf", vmhd + dinf + stbl)
    mdia = b(b"mdia", mdhd + hdlr + minf)
    trak = b(b"trak", tkhd + mdia)
    ftyp = b(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    if fragments is None:
        moov = b(b"moov", mvhd + trak)
        mdat = b(b"mdat", bytes(sum(sample_sizes) % 4096))
        return ftyp + moov + mdat
    # fragmented: mvex/trex in the moov, then one moof+mdat per fragment
    trex = b(b"trex", struct.pack(">IIIIII", 0, 1, 1, 40, 16, 0))
    moov = b(b"moov", mvhd + trak + b(b"mvex", trex))
    out = ftyp + moov
    for seq, nf in enumerate(fragments, start=1):
        mfhd = b(b"mfhd", struct.pack(">II", 0, seq))
        tfhd = b(b"tfhd", struct.pack(">II", 0x020000, 1))  # default-base-is-moof
        trun = b(b"trun", struct.pack(">II", 0, nf))
        traf = b(b"traf", tfhd + trun)
        out += b(b"moof", mfhd + traf)
        out += b(b"mdat", bytes(16 * nf))
    return out


def _mp4_children(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the boxes in [start, end);
    handles 64-bit largesize and rejects malformed sizes."""
    import struct

    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            body = pos + 16
        elif size == 0:  # to end of enclosing box
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"malformed MP4 box size at {pos}")
        yield typ, body, pos + size
        pos += size


def _mp4_find(data: bytes, start: int, end: int, path: list[bytes]):
    """First box matching the type path, as (body_start, body_end)."""
    for typ, bs, be in _mp4_children(data, start, end):
        if typ == path[0]:
            if len(path) == 1:
                return bs, be
            found = _mp4_find(data, bs, be, path[1:])
            if found:
                return found
    return None


def _parse_mp4(data: bytes) -> tuple[int, int]:
    """(frame count, frame count) of an MP4's first video track — the
    y4m/av convention (checksum == count == n_frames).  Real box walk:
    moov -> trak (hdlr == 'vide') -> stbl -> stsz/stz2, PLUS — for
    fragmented streams, where the sample counts live in the fragments
    — every top-level moof -> traf (tfhd track_ID == the video
    track's) -> trun sample_count summed in (the DASH/CMAF shipping
    form; an fMP4's moov stsz typically declares zero samples)."""
    import struct

    raw = bytes(data)
    top = list(_mp4_children(raw, 0, len(raw)))
    types = [t for t, _, _ in top]
    if b"ftyp" not in types and b"moov" not in types:
        raise ValueError("not an ISO-BMFF (MP4) stream")
    moov = next(((bs, be) for t, bs, be in top if t == b"moov"), None)
    if moov is None:
        raise ValueError("MP4 without a moov box")
    for typ, bs, be in _mp4_children(raw, *moov):
        if typ != b"trak":
            continue
        hdlr = _mp4_find(raw, bs, be, [b"mdia", b"hdlr"])
        if hdlr is None or raw[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        tkhd = _mp4_find(raw, bs, be, [b"tkhd"])
        track_id = None
        if tkhd is not None:
            ver = raw[tkhd[0]]
            track_id = struct.unpack_from(
                ">I", raw, tkhd[0] + (20 if ver == 1 else 12)
            )[0]
        stbl = _mp4_find(raw, bs, be, [b"mdia", b"minf", b"stbl"])
        if stbl is None:
            raise ValueError("video trak without a sample table")
        n = None
        stsz = _mp4_find(raw, *stbl, [b"stsz"])
        if stsz is not None:
            n = struct.unpack_from(">I", raw, stsz[0] + 8)[0]
        else:
            stz2 = _mp4_find(raw, *stbl, [b"stz2"])
            if stz2 is not None:
                n = struct.unpack_from(">I", raw, stz2[0] + 8)[0]
        if n is None:
            raise ValueError("video sample table without stsz/stz2")
        # fragmented samples: sum this track's trun counts
        for t, fs, fe in top:
            if t != b"moof":
                continue
            for ft, tbs, tbe in _mp4_children(raw, fs, fe):
                if ft != b"traf":
                    continue
                tfhd = _mp4_find(raw, tbs, tbe, [b"tfhd"])
                if tfhd is None:
                    raise ValueError("traf without tfhd")
                tid = struct.unpack_from(">I", raw, tfhd[0] + 4)[0]
                if track_id is not None and tid != track_id:
                    continue
                for rt, rbs, rbe in _mp4_children(raw, tbs, tbe):
                    if rt == b"trun":
                        n += struct.unpack_from(">I", raw, rbs + 4)[0]
        return n, n
    raise ValueError("MP4 without a video track")
