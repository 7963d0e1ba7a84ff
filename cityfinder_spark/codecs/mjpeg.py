"""Motion-JPEG AVI codec — stdlib struct + the codecs/jpeg.py JFIF
codec. The real-video counterpart of the real PNG/JPEG paths: an AVI
(RIFF 'AVI ') container holding one baseline-JFIF stream per frame
('MJPG' — the format camera/webcam pipelines emit), built by hand from
the public AVI spec (RIFF lists 'hdrl'/'movi', avih + strh/strf
headers, '00dc' frame chunks, 'idx1' index).

Decode walks the RIFF tree, pulls every '00dc' chunk and routes it
through decode_jpeg_real — so the whole video path (container AND
per-frame codec) is real, spec-derived code with no external
library. Frame chunks are word-aligned per RIFF; the index is
emitted (players need it) and ignored on read (the 'movi' walk is
authoritative).
"""

from __future__ import annotations

import struct

import numpy as np

from cityfinder_spark.codecs.jpeg import decode_jpeg_real, encode_jpeg_real


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_mjpeg_avi(
    frames: list[np.ndarray], fps: int = 10, quality: int = 95
) -> bytes:
    """Spec-compliant AVI-MJPG bytes for a list of (h, w, 3) uint8
    frames (all the same shape)."""
    if not frames:
        raise ValueError("empty video")
    h, w = frames[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in frames):
        raise ValueError("all frames must share one shape")
    encoded = [encode_jpeg_real(f, quality) for f in frames]
    maxbuf = max(len(e) for e in encoded)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        maxbuf * fps,      # dwMaxBytesPerSec (upper bound)
        0,                 # dwPaddingGranularity
        0x10,              # dwFlags: AVIF_HASINDEX
        len(encoded),      # dwTotalFrames
        0, 1,              # dwInitialFrames, dwStreams
        maxbuf,            # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0,  # dwWidth, dwHeight, reserved[4]
    )
    # AVISTREAMHEADER: after the two fccs exactly 11 DWORDs/WORD-pairs
    # (dwFlags, wPriority+wLanguage, dwInitialFrames, dwScale, dwRate,
    # dwStart, dwLength, dwSuggestedBufferSize, dwQuality,
    # dwSampleSize) then rcFrame — 56 bytes total, fixed offsets.
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(encoded), maxbuf, 0xFFFFFFFF, 0)
        + struct.pack("<HHHH", 0, 0, w, h)  # rcFrame
    )
    # BITMAPINFOHEADER with biCompression = 'MJPG'
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_items = [_chunk(b"00dc", e) for e in encoded]
    movi = _list(b"movi", b"".join(movi_items))
    # idx1: one entry per frame chunk, offsets relative to 'movi' list
    # data start (standard convention: offset of the chunk id from the
    # position of the 'movi' fourcc)
    idx = bytearray()
    off = 4  # the 'movi' fourcc itself
    for e in encoded:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(e))  # AVIIF_KEYFRAME
        off += 8 + len(e) + (len(e) & 1)
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_mjpeg_avi(buf: bytes) -> np.ndarray:
    """-> (n_frames, h, w, 3) uint8. Walks the RIFF tree to the
    'movi' list and decodes every '00dc' MJPG frame through the
    baseline JFIF decoder. Raises ValueError on a non-AVI stream,
    truncation, or frame-shape disagreement."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI byte stream")
    declared_end = 8 + struct.unpack_from("<I", buf, 4)[0]
    if declared_end > len(buf):
        raise ValueError("AVI truncated (buffer shorter than RIFF size)")
    frames: list[np.ndarray] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            if body_start + ln > end:
                raise ValueError(f"AVI chunk {cid!r} truncated")
            if cid == b"LIST":
                walk(body_start + 4, body_start + ln)
            elif cid == b"strh" and ln >= 8 and buf[body_start : body_start + 4] == b"vids":
                # strict-reject dispatch: this decoder
                # only speaks MJPG-in-AVI; cinepak/DV/xvid etc. would
                # feed garbage to the JFIF decoder, so refuse up front.
                handler = buf[body_start + 4 : body_start + 8]
                if handler not in (b"MJPG", b"mjpg", b"dmb1"):
                    raise ValueError(
                        f"AVI video stream handler {handler!r} is not "
                        "MJPG; only Motion-JPEG AVIs are supported"
                    )
            elif cid == b"00dc" and ln:
                frames.append(decode_jpeg_real(buf[body_start : body_start + ln]))
            pos = body_start + ln + (ln & 1)

    walk(12, declared_end)
    if not frames:
        raise ValueError("AVI contains no video frames")
    shape = frames[0].shape
    if any(f.shape != shape for f in frames):
        raise ValueError("AVI frames disagree on shape")
    return np.stack(frames)
