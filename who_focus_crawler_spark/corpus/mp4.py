"""MP4/ISO-BMFF container METADATA walk (and a deterministic writer),
stdlib-only.

The video CODEC stays behind the explicit NotImplementedError in
corpus/multimodal.py — H.264/AV1 entropy decoding genuinely needs
ffmpeg-class externals. But what a crawler INDEXES from a video URL is
container metadata, and ISO/IEC 14496-12 box structure is plain
``struct`` arithmetic: a length-prefixed box tree whose leaves carry
brand, timescale/duration, track kinds, codec fourccs, and
width/height / channels/sample-rate. ``parse_mp4_meta`` walks exactly
that — ftyp, moov/mvhd, per-trak tkhd + mdia(mdhd, hdlr,
minf/stbl/stsd) — with the same hostile-byte discipline as the image
codecs: typed ``Mp4Error`` for malformed trees, hard caps on depth and
box count so a lying size field cannot recurse or spin, and no
allocation proportional to declared (unread) sizes.

``encode_mp4_skeleton`` writes a minimal VALID file with those boxes
(plus an ``mdat`` stub) so fixtures are genuine ISO-BMFF: the writer
and parser are cross-checked by round-trip tests and mutation fuzz,
and the sniffing path ('ftyp' at offset 4) recognizes the output.

Spec: ISO/IEC 14496-12 (box structure, mvhd/tkhd/mdhd/hdlr/stsd
layouts are public and stable since 2001); fourccs are data, not
semantics, to this walker.
"""

from __future__ import annotations

import struct

__all__ = ["Mp4Error", "parse_mp4_meta", "encode_mp4_skeleton"]

# hostile-byte guards: a crawler feeds arbitrary bytes here
MAX_BOXES = 10_000
MAX_DEPTH = 16

# container boxes this walker descends into
_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


class Mp4Error(ValueError):
    """Malformed or out-of-scope ISO-BMFF payload."""


def _u(data: bytes, off: int, n: int, end: int) -> int:
    """Big-endian field of ``n`` bytes at ``off``, which must end by
    ``end``: the enclosing box's end for a leaf field, so a box too short
    for its fields raises instead of reading the next box's bytes."""
    if off + n > end:
        raise Mp4Error(f"truncated field at {off}")
    return int.from_bytes(data[off:off + n], "big")


def _walk(
    data: bytes, lo: int, hi: int, depth: int, out: dict, counter: list[int]
) -> None:
    pos = lo
    if depth > MAX_DEPTH:
        raise Mp4Error("box tree exceeds depth cap")
    while pos < hi:
        counter[0] += 1
        if counter[0] > MAX_BOXES:
            raise Mp4Error("box count exceeds cap")
        if pos + 8 > hi:
            raise Mp4Error(f"truncated box header at {pos}")
        size = _u(data, pos, 4, hi)
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            size = _u(data, pos + 8, 8, hi)
            body = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = hi - pos
        if size < body - pos or pos + size > hi:
            raise Mp4Error(
                f"box {btype!r} size {size} escapes its container"
            )
        end = pos + size
        if btype in _CONTAINERS:
            if btype == b"trak":
                out["tracks"].append({})
            _walk(data, body, end, depth + 1, out, counter)
        elif btype == b"ftyp":
            if end - body < 8:
                raise Mp4Error("truncated ftyp")
            out["brand"] = data[body:body + 4].decode("latin-1")
        elif btype == b"mvhd":
            ver = _u(data, body, 1, end)
            if ver == 1:
                out["timescale"] = _u(data, body + 20, 4, end)
                out["duration"] = _u(data, body + 24, 8, end)
            else:
                out["timescale"] = _u(data, body + 12, 4, end)
                out["duration"] = _u(data, body + 16, 4, end)
        elif btype == b"tkhd" and out["tracks"]:
            ver = _u(data, body, 1, end)
            # width/height are 16.16 fixed point at the box tail
            if end - body < (32 if ver == 0 else 44) + 52:
                raise Mp4Error("truncated tkhd")
            out["tracks"][-1]["width"] = _u(data, end - 8, 4, end) >> 16
            out["tracks"][-1]["height"] = _u(data, end - 4, 4, end) >> 16
        elif btype == b"mdhd" and out["tracks"]:
            ver = _u(data, body, 1, end)
            if ver == 1:
                out["tracks"][-1]["timescale"] = _u(data, body + 20, 4, end)
                out["tracks"][-1]["duration"] = _u(data, body + 24, 8, end)
            else:
                out["tracks"][-1]["timescale"] = _u(data, body + 12, 4, end)
                out["tracks"][-1]["duration"] = _u(data, body + 16, 4, end)
        elif btype == b"hdlr" and out["tracks"]:
            if end - body < 12:
                raise Mp4Error("truncated hdlr")
            out["tracks"][-1]["kind"] = data[body + 8:body + 12].decode(
                "latin-1"
            )
        elif btype == b"stsd" and out["tracks"]:
            n = _u(data, body + 4, 4, end)
            if n >= 1 and end - body >= 16:
                # first sample entry: 4-byte size then fourcc
                out["tracks"][-1]["codec"] = data[
                    body + 12:body + 16
                ].decode("latin-1")
                # audio sample entries carry channels @+24, rate @+32
                ebody = body + 16
                if out["tracks"][-1].get("kind") == "soun" and (
                    end - ebody >= 28
                ):
                    out["tracks"][-1]["channels"] = _u(data, ebody + 16, 2, end)
                    out["tracks"][-1]["sample_rate"] = (
                        _u(data, ebody + 24, 4, end) >> 16
                    )
        # every other box (mdat, free, udta, …) is skipped by size —
        # NEVER read: a multi-GB mdat costs this walker nothing
        pos = end


def parse_mp4_meta(data: bytes) -> dict:
    """Walk the box tree and return
    ``{brand, timescale, duration, duration_ms, tracks: [{kind, codec,
    width/height | channels/sample_rate, timescale, duration}, ...]}``.
    Raises ``Mp4Error`` (typed, fast, allocation-bounded) on anything
    malformed."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise Mp4Error("bad ISO-BMFF signature (no leading ftyp)")
    out: dict = {"tracks": []}
    _walk(data, 0, len(data), 0, out, [0])
    if "timescale" not in out:
        raise Mp4Error("missing moov/mvhd")
    ts = out["timescale"]
    out["duration_ms"] = (
        out["duration"] * 1000 // ts if ts else 0
    )
    return out


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def encode_mp4_skeleton(
    duration_ms: int,
    width: int = 0,
    height: int = 0,
    video_codec: str = "avc1",
    audio: tuple[int, int] | None = None,
    audio_codec: str = "mp4a",
    mdat_bytes: int = 16,
) -> bytes:
    """Minimal VALID ISO-BMFF file: ftyp + moov(mvhd + one video trak
    [+ one audio trak when ``audio=(channels, sample_rate)``]) + a stub
    mdat. Timescale 1000, so mvhd duration == duration_ms. Every field
    the parser reads is real; everything else is zeroed per spec."""
    ts = 1000
    dur = max(int(duration_ms), 0)

    def mvhd() -> bytes:
        b = struct.pack(">B3x4x4x", 0)  # ver/flags, ctime, mtime
        b += struct.pack(">II", ts, dur)
        b += struct.pack(">i", 0x00010000) + struct.pack(">h2x", 0x0100)
        b += b"\x00" * 8  # reserved
        b += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
        b += b"\x00" * 24 + struct.pack(">I", 3)  # predefineds, next id
        return _box(b"mvhd", b)

    def tkhd(tid: int, w: int, h: int) -> bytes:
        b = struct.pack(">B3B4x4x", 0, 0, 0, 7)  # ver, flags=enabled
        b += struct.pack(">I4xI", tid, dur)
        b += b"\x00" * 8 + struct.pack(">hh h2x", 0, 0, 0)
        b += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
        b += struct.pack(">II", w << 16, h << 16)
        return _box(b"tkhd", b)

    def mdhd() -> bytes:
        b = struct.pack(">B3x4x4x", 0) + struct.pack(">II", ts, dur)
        b += struct.pack(">HH", 0x55C4, 0)  # language 'und'
        return _box(b"mdhd", b)

    def hdlr(kind: bytes, name: bytes) -> bytes:
        b = struct.pack(">B3x4x", 0) + kind + b"\x00" * 12 + name + b"\x00"
        return _box(b"hdlr", b)

    def stsd_video(fourcc: str, w: int, h: int) -> bytes:
        e = b"\x00" * 6 + struct.pack(">H", 1)  # reserved, data ref idx
        e += struct.pack(">2x2x4x8xHH", w, h)
        e += struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        e += struct.pack(">4xH", 1) + b"\x00" * 32  # frame count, name
        e += struct.pack(">Hh", 0x0018, -1)  # depth, predefined
        entry = _box(fourcc.encode("latin-1"), e)
        return _box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)

    def stsd_audio(fourcc: str, channels: int, rate: int) -> bytes:
        e = b"\x00" * 6 + struct.pack(">H", 1)
        e += b"\x00" * 8  # reserved
        e += struct.pack(">HH", channels, 16)  # channelcount, samplesize
        e += struct.pack(">Hxx", 0)  # predefined, reserved
        e += struct.pack(">I", rate << 16)
        entry = _box(fourcc.encode("latin-1"), e)
        return _box(b"stsd", struct.pack(">B3xI", 0, 1) + entry)

    def stbl(stsd: bytes) -> bytes:
        empty = struct.pack(">B3xI", 0, 0)
        return _box(
            b"stbl",
            stsd + _box(b"stts", empty) + _box(b"stsc", empty)
            + _box(b"stsz", struct.pack(">B3xII", 0, 0, 0))
            + _box(b"stco", empty),
        )

    def trak(tid, kind, name, stsd, w=0, h=0) -> bytes:
        minf = _box(b"minf", stbl(stsd))
        mdia = _box(b"mdia", mdhd() + hdlr(kind, name) + minf)
        return _box(b"trak", tkhd(tid, w, h) + mdia)

    traks = trak(
        1, b"vide", b"VideoHandler", stsd_video(video_codec, width, height),
        width, height,
    )
    if audio is not None:
        ch, rate = audio
        traks += trak(
            2, b"soun", b"SoundHandler", stsd_audio(audio_codec, ch, rate)
        )
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    moov = _box(b"moov", mvhd() + traks)
    mdat = _box(b"mdat", bytes(mdat_bytes))
    return ftyp + moov + mdat
