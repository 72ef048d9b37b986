"""MP4/ISO-BMFF container-metadata walk (corpus/mp4.py).

The video codec stays honestly stubbed; the box walk recovers what a
crawler indexes — brand, duration, per-track kind/codec/geometry/audio
layout — with typed, allocation-bounded hostile-byte behavior (same
contract as the image codecs)."""

from __future__ import annotations

import random
import struct
import time

import pytest

from who_focus_crawler_spark.corpus.mp4 import (
    Mp4Error,
    encode_mp4_skeleton,
    parse_mp4_meta,
)


def test_round_trip_video_plus_audio():
    b = encode_mp4_skeleton(90125, width=640, height=360, audio=(2, 44100))
    m = parse_mp4_meta(b)
    assert (m["brand"], m["duration_ms"]) == ("isom", 90125)
    vid, aud = m["tracks"]
    assert (vid["kind"], vid["codec"], vid["width"], vid["height"]) == (
        "vide", "avc1", 640, 360,
    )
    assert (aud["kind"], aud["codec"], aud["channels"], aud["sample_rate"]) \
        == ("soun", "mp4a", 2, 44100)


@pytest.mark.parametrize("ms,w,h", [(0, 1, 1), (1, 16, 9), (3_599_999, 3840, 2160)])
def test_round_trip_extremes(ms, w, h):
    m = parse_mp4_meta(encode_mp4_skeleton(ms, width=w, height=h))
    assert m["duration_ms"] == ms
    assert (m["tracks"][0]["width"], m["tracks"][0]["height"]) == (w, h)
    assert len(m["tracks"]) == 1


def test_mdat_is_skipped_not_read():
    """A huge declared mdat costs the walker nothing: only the 8-byte
    header is touched, so parse time is independent of payload size."""
    b = encode_mp4_skeleton(1000, width=32, height=18, mdat_bytes=2_000_000)
    t0 = time.time()
    assert parse_mp4_meta(b)["duration_ms"] == 1000
    assert time.time() - t0 < 0.5


def test_hostile_bytes_typed_and_fast():
    good = encode_mp4_skeleton(5000, width=320, height=180, audio=(1, 48000))
    rng = random.Random(20260821)
    for _ in range(1500):
        b = bytearray(good)
        op = rng.randrange(3)
        if op == 0:
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:
            del b[rng.randrange(1, len(b)):]
        else:
            at = rng.randrange(len(b))
            b[at:at] = bytes(
                rng.randrange(256) for _ in range(rng.randint(1, 8))
            )
        t0 = time.time()
        try:
            parse_mp4_meta(bytes(b))
        except Mp4Error:
            pass  # the contract: the walker's OWN error class
        assert time.time() - t0 < 1.0


def test_lying_box_sizes_refused():
    good = encode_mp4_skeleton(100, width=16, height=9)
    # size escaping the container
    bad = bytearray(good)
    struct.pack_into(">I", bad, 0, 2**31)
    with pytest.raises(Mp4Error, match="escapes"):
        parse_mp4_meta(bytes(bad))
    # not an ISO-BMFF stream at all
    with pytest.raises(Mp4Error, match="signature"):
        parse_mp4_meta(b"\x89PNG\r\n\x1a\n" + good)
    # moov missing entirely
    ftyp_only = good[: struct.unpack(">I", good[:4])[0]]
    with pytest.raises(Mp4Error, match="mvhd"):
        parse_mp4_meta(ftyp_only)


@pytest.mark.parametrize("ver", [0, 1])
def test_leaf_reads_bounded_by_own_box(ver):
    """An mvhd whose size (10) leaves no room for its fields raises
    instead of reading timescale/duration out of the next box."""
    good = encode_mp4_skeleton(100, width=16, height=9)
    ftyp_len = struct.unpack(">I", good[:4])[0]
    moov_len = struct.unpack(">I", good[ftyp_len:ftyp_len + 4])[0]
    short_mvhd = struct.pack(">I", 10) + b"mvhd" + bytes([ver, 0])
    body = short_mvhd + good[ftyp_len + 8:ftyp_len + moov_len]
    bad = (
        good[:ftyp_len]
        + struct.pack(">I", len(body) + 8) + b"moov" + body
        + good[ftyp_len + moov_len:]
    )
    with pytest.raises(Mp4Error, match="truncated field"):
        parse_mp4_meta(bad)


def test_sniffer_recognizes_skeleton():
    """The engine's magic-byte sniffer sees the writer's output as
    video/mp4 — the fixture exercises the REAL container shape."""
    b = encode_mp4_skeleton(1, width=2, height=2)
    assert b[4:8] == b"ftyp"


def test_attach_and_parse_spark(spark):
    from who_focus_crawler_spark.corpus.multimodal import (
        attach_mp4_media,
        parse_mp4_meta_df,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    rows = {
        int(r.media_id[1:]): r
        for r in parse_mp4_meta_df(attach_mp4_media(docs)).collect()
    }
    assert len(rows) == 8
    for i, r in rows.items():
        assert r.duration_ms == 1000 + (i * 37) % 3_600_000
        assert r.width == 320 + (i % 4) * 160
        assert r.n_tracks == (2 if i % 2 == 0 else 1)
        if i % 2 == 0:
            assert r.audio_channels == 2
            assert r.sample_rate == (44100 if i % 4 == 0 else 48000)
        else:
            assert r.audio_channels is None
