"""Native baseline-JPEG codec (multimodal/jpeg.py): real-byte
round-trips through the pure-python encoder/decoder pair, profile
stubs, and the Spark integration through the shared _raw_any /
_decode_any dispatch (image hashing + decode_media over REAL JPEG
payloads, no PIL anywhere)."""

from __future__ import annotations

import hashlib

import pytest

from pagerankproject_spark.multimodal.jpeg import (
    decode_jpeg,
    encode_jpeg_gray,
    encode_jpeg_rgb,
)


def _px(seed: str, n: int) -> bytes:
    return bytes(
        int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:2], 16)
        for i in range(n)
    )


def test_gray_roundtrip_bounds():
    """All-ones quantization leaves only the integer-DCT rounding:
    every pixel within 2; a uniform block is exact (DC-only)."""
    pix = _px("g", 256)
    w, h, c, buf = decode_jpeg(encode_jpeg_gray(16, 16, pix))
    assert (w, h, c) == (16, 16, 1)
    assert max(abs(a - b) for a, b in zip(pix, buf)) <= 2

    uni = bytes([77] * 256)
    _, _, _, b2 = decode_jpeg(encode_jpeg_gray(16, 16, uni))
    assert bytes(b2) == uni

    # non-multiple-of-8 dimensions: padded blocks crop back exactly
    pix3 = _px("g2", 13 * 11)
    w, h, c, b3 = decode_jpeg(encode_jpeg_gray(13, 11, pix3))
    assert (w, h, c) == (13, 11, 1)
    assert max(abs(a - b) for a, b in zip(pix3, b3)) <= 2


def test_restart_markers_roundtrip():
    pix = _px("r", 256)
    jp = encode_jpeg_gray(16, 16, pix, restart_interval=2)
    assert b"\xff\xdd" in jp and b"\xff\xd0" in jp  # DRI + RST0 present
    w, h, c, buf = decode_jpeg(jp)
    assert max(abs(a - b) for a, b in zip(pix, buf)) <= 2


def test_zero_segment_length_raises_promptly():
    """A marker segment whose length field is below its own two bytes
    (here 0) is corrupt: the decoder raises ValueError at once instead
    of re-reading the same position."""
    import threading

    jp = encode_jpeg_gray(8, 8, _px("z", 64))
    bad = jp[:2] + b"\xff\xe0\x00\x00" + jp[2:]
    caught: list[BaseException] = []

    def run():
        try:
            decode_jpeg(bad)
        except BaseException as e:  # handed to the test thread below
            caught.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "decode_jpeg hung on a zero segment length"
    assert len(caught) == 1 and isinstance(caught[0], ValueError), caught
    assert "bad segment length" in str(caught[0])


def test_truncated_entropy_data_raises_value_error():
    """A valid encode cut off in the middle of its scan: the bit reader
    runs out of bytes and raises the codec's ValueError, not
    IndexError."""
    jp = encode_jpeg_gray(16, 16, _px("t", 256))
    sos = jp.index(b"\xff\xda")
    scan = sos + 2 + int.from_bytes(jp[sos + 2 : sos + 4], "big")
    for cut in (scan + 1, (scan + len(jp)) // 2):
        with pytest.raises(ValueError, match="truncated entropy-coded data"):
            decode_jpeg(jp[:cut])


def test_color_roundtrips():
    rgb = _px("c", 16 * 16 * 3)
    w, h, c, buf = decode_jpeg(encode_jpeg_rgb(16, 16, rgb, "444"))
    assert (w, h, c) == (16, 16, 3)
    # 4:4:4 loses only the fixed-point color matrix + DCT rounding
    assert max(abs(a - b) for a, b in zip(rgb, buf)) <= 4

    # 4:2:0 halves the chroma planes: faithful on a SMOOTH image
    # (random noise would legitimately destroy chroma), and the MCU
    # interleave + 2x2 upsample path is what's under test
    w2, h2 = 24, 16
    smooth = bytearray()
    for y in range(h2):
        for x in range(w2):
            smooth += bytes(
                [min(255, 10 * x), min(255, 12 * y), min(255, 5 * (x + y))]
            )
    ww, hh, cc, b2 = decode_jpeg(
        encode_jpeg_rgb(w2, h2, bytes(smooth), "420")
    )
    assert (ww, hh, cc) == (w2, h2, 3)
    assert max(abs(a - b) for a, b in zip(smooth, b2)) <= 12
    mean = sum(abs(a - b) for a, b in zip(smooth, b2)) / len(smooth)
    assert mean <= 4


def test_determinism_and_stub_profiles():
    pix = _px("d", 256)
    jp = encode_jpeg_gray(16, 16, pix)
    a = decode_jpeg(jp)
    b = decode_jpeg(jp)
    assert a[3] == b[3]  # bit-identical decode

    # progressive (SOF2) is an honest named stub: flip the SOF0 marker
    prog = jp.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(prog)

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")


def test_spark_integration_hashing_and_metadata(spark):
    """REAL JPEG bytes through the Spark surfaces: image_ahash equals
    ahash_bits of the decoded buffer, exact twins pair at Hamming 0,
    and decode_media reports the decoded mean — the same contract the
    PNG path has had since round 4."""
    from pagerankproject_spark.multimodal.media import (
        ahash_bits,
        decode_media,
        image_ahash,
        image_near_dup_ahash,
    )

    pix = _px("s", 256)
    jp = encode_jpeg_gray(16, 16, pix)
    rows = [
        ("img://j1", jp),
        ("img://j2", jp),  # exact twin
        ("img://j3", encode_jpeg_gray(16, 16, _px("s9", 256))),
    ]
    df = spark.createDataFrame(rows, "url string, media binary")
    hashes = image_ahash(df)
    got = {r["url"]: r["ahash"] for r in hashes.collect()}
    _, _, _, dec = decode_jpeg(jp)
    assert got["img://j1"] == ahash_bits(16, 16, 1, bytes(dec))
    assert got["img://j1"] == got["img://j2"]

    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in image_near_dup_ahash(hashes, max_hamming=3).collect()
    }
    assert pairs.get(("img://j1", "img://j2")) == 0

    meta = {
        r["url"]: r for r in decode_media(df).collect()
    }
    m = meta["img://j1"]
    assert (m["width"], m["height"], m["n_channels"]) == (16, 16, 1)
    assert abs(m["mean_intensity"] - sum(dec) / len(dec)) < 1e-9


def test_mjpeg_avi_frame_sampling(spark):
    """Native MJPEG-AVI frame sampling (round 5, multimodal/video.py):
    real AVI bytes through the Spark sampler — frame_sha equals the
    sha256 of each DECODED sampled frame (proving the per-frame JPEG
    decode), every_n strides, non-AVI video still raises without
    fake=True, and media_metadata sniffs the RIFF forms."""
    import hashlib as _hl

    from pagerankproject_spark.multimodal.audio import encode_wav_pcm16
    from pagerankproject_spark.multimodal.media import (
        media_metadata,
        sample_video_frames,
    )
    from pagerankproject_spark.multimodal.video import (
        encode_mjpeg_avi,
        mjpeg_avi_frames,
    )

    frames = [encode_jpeg_gray(16, 16, _px(f"f{i}", 256)) for i in range(5)]
    avi = encode_mjpeg_avi(16, 16, frames)
    w, h, total, got = mjpeg_avi_frames(avi)
    assert (w, h, total) == (16, 16, 5) and got == frames

    df = spark.createDataFrame([("vid://a", avi)], "url string, media binary")
    out = {
        r["frame_idx"]: r["frame_sha"]
        for r in sample_video_frames(df, every_n=2).collect()
    }
    assert sorted(out) == [0, 2, 4]
    for idx in (0, 2, 4):
        _, _, _, buf = decode_jpeg(frames[idx])
        assert out[idx] == _hl.sha256(bytes(buf)).hexdigest()[:16]

    # non-AVI payload without fake: honest ffmpeg stub per payload
    bad = spark.createDataFrame(
        [("vid://mp4", b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 8)],
        "url string, media binary",
    )
    with pytest.raises(Exception, match="ffmpeg"):
        sample_video_frames(bad, every_n=2).collect()

    # RIFF form-type disambiguation in the JVM mime sniffer
    wav = encode_wav_pcm16(8000, 1, [0, 1, -1, 0])
    both = spark.createDataFrame(
        [("a://w", wav), ("v://a", avi)], "url string, media binary"
    )
    mimes = {r["url"]: r["mime"] for r in media_metadata(both).collect()}
    assert mimes == {"a://w": "audio/x-wav", "v://a": "video/x-msvideo"}


def test_classical_image_features_real_codecs(spark):
    """extract_image_features over decodable payloads is a REAL
    classical descriptor (round 5): [mean/255, std/255, histogram bin
    fractions] on channel-sum grays — python-replayed exactly for a
    JPEG payload, identical vectors for identical pixels across PNG
    and JPEG carrying the same decoded buffer."""
    from pagerankproject_spark.multimodal.media import (
        encode_png_gray,
        extract_image_features,
    )

    pix = _px("feat", 256)
    jp = encode_jpeg_gray(16, 16, pix)
    _, _, _, dec = decode_jpeg(jp)  # JPEG loses <=2/px: replay on DECODED
    png_same = bytes(encode_png_gray(16, 16, bytes(dec)))
    df = spark.createDataFrame(
        [("img://jpg", jp), ("img://png", png_same)],
        "url string, media binary",
    )
    got = {
        r["url"]: r["features"]
        for r in extract_image_features(df, dim=8).collect()
    }
    grays = list(dec)
    n = len(grays)
    s = sum(grays)
    ss = sum(g * g for g in grays)
    bins = [0] * 6
    for g in grays:
        bins[g * 6 // 256] += 1
    want = [
        s / n / 255.0, ((n * ss - s * s) / (n * n)) ** 0.5 / 255.0
    ] + [b / n for b in bins]
    assert got["img://jpg"] == pytest.approx(want, abs=1e-12)
    # PNG of the decoded pixels -> identical descriptor
    assert got["img://png"] == got["img://jpg"]
    assert abs(sum(got["img://jpg"][2:]) - 1.0) < 1e-12

    # undecodable payload without fake: stub names the vision model
    bad = spark.createDataFrame(
        [("x://b", b"\x00\x01\x02\x03")], "url string, media binary"
    )
    with pytest.raises(Exception, match="vision model"):
        extract_image_features(bad).collect()


def test_fake_image_features_fall_back_on_progressive_jpeg(spark):
    """fake=True gives a progressive JPEG (SOF0 flipped to SOF2) the
    md5 stand-in vector instead of failing the batch; fake=False still
    raises the decoder's NotImplementedError."""
    from pagerankproject_spark.multimodal.media import extract_image_features

    jp = encode_jpeg_gray(16, 16, _px("prog", 256))
    prog = jp.replace(b"\xff\xc0", b"\xff\xc2", 1)
    df = spark.createDataFrame(
        [("img://prog", prog), ("img://base", jp)], "url string, media binary"
    )
    got = {
        r["url"]: r["features"]
        for r in extract_image_features(df, dim=8, fake=True).collect()
    }
    d = hashlib.md5(prog).digest()
    assert got["img://prog"] == [(d[i % 16] - 128) / 128.0 for i in range(8)]
    base = extract_image_features(df.filter("url = 'img://base'"), dim=8)
    assert got["img://base"] == base.collect()[0]["features"]
    with pytest.raises(Exception, match="progressive"):
        extract_image_features(df, dim=8).collect()


from hypothesis import given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    seed=st.integers(0, 2**32 - 1),
)
def test_fuzz_gray_roundtrip(w, h, seed):
    """Property: any size x any pixels round-trips within the
    integer-DCT bound and exact dimensions."""
    pix = _px(f"z{seed}", w * h)
    ww, hh, c, buf = decode_jpeg(encode_jpeg_gray(w, h, pix))
    assert (ww, hh, c) == (w, h, 1)
    assert len(buf) == w * h
    assert max(abs(a - b) for a, b in zip(pix, buf)) <= 2


@settings(max_examples=25, deadline=None)
@given(
    channels=st.integers(1, 4),
    frames=st.integers(1, 64),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**32 - 1),
)
def test_fuzz_wav_roundtrip(channels, frames, rate, seed):
    """Property: PCM16 WAV round-trips exactly for any channel count,
    frame count, and sample values."""
    from pagerankproject_spark.multimodal.audio import (
        decode_wav,
        encode_wav_pcm16,
    )

    n = channels * frames
    samples = [
        int(hashlib.md5(f"w{seed}:{i}".encode()).hexdigest()[:4], 16) - 32768
        for i in range(n)
    ]
    ch, r, fr, out = decode_wav(encode_wav_pcm16(rate, channels, samples))
    assert (ch, r, fr) == (channels, rate, frames)
    assert out == samples
