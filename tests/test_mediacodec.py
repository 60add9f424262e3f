"""Real PNG and JPEG (baseline + progressive) codecs."""

from __future__ import annotations

import random

import pytest

from pdf_to_text_spark.core.mediacodec import MediaError, decode_png, encode_png


def _img(w, h, ch, seed=3):
    rng = random.Random(seed)
    return bytes(rng.randrange(256) for _ in range(w * h * ch))


@pytest.mark.parametrize("row_filter", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_every_filter_and_colortype(row_filter, channels):
    """encode (forward filter) → decode (inverse filter) must be
    lossless for all five PNG filters × four 8-bit color types."""
    w, h = 13, 7  # odd sizes catch stride bugs
    px = _img(w, h, channels)
    got = decode_png(encode_png(w, h, channels, px, row_filter))
    assert got == (w, h, channels, px)


def test_png_rejects_malformed():
    with pytest.raises(MediaError):
        decode_png(b"\x89PNG\r\n\x1a\nnot really")
    good = encode_png(4, 4, 3, _img(4, 4, 3))
    with pytest.raises(MediaError):
        decode_png(good[:40])  # truncated


def test_jpeg_roundtrip_gray_lossless_at_q100():
    """Baseline JPEG codec (core/jpegcodec): with the quality-100 quant
    table (all ones after scaling) a grayscale image round-trips
    EXACTLY — DCT float error stays under the rounding step."""
    import numpy as np

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg

    w, h = 20, 13
    px = bytes(((x * 7 + y * 11) % 256) for y in range(h) for x in range(w))
    w2, h2, ch, out = decode_jpeg(encode_jpeg(w, h, 1, px, quality=100))
    assert (w2, h2, ch) == (w, h, 1)
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    b = np.frombuffer(out, dtype=np.uint8).astype(int)
    assert np.abs(a - b).max() == 0


def test_jpeg_roundtrip_rgb_and_quality_monotone():
    import numpy as np

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg

    w, h = 17, 9
    px = bytes(
        ((x * 13 + y * 29 + c * 41) % 256) for y in range(h) for x in range(w) for c in range(3)
    )
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    errs = {}
    for q in (100, 50):
        w2, h2, ch, out = decode_jpeg(encode_jpeg(w, h, 3, px, quality=q))
        assert (w2, h2, ch) == (w, h, 3)
        errs[q] = np.abs(a - np.frombuffer(out, dtype=np.uint8).astype(int)).mean()
    # q100 is near-lossless (YCbCr rounding only); q50 visibly lossy
    assert errs[100] <= 1.0
    assert errs[50] > errs[100]


def test_jpeg_rejects_malformed_and_unsupported():
    import pytest

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg
    from pdf_to_text_spark.core.mediacodec import MediaError

    good = encode_jpeg(8, 8, 1, bytes(range(64)), quality=90)
    for bad in (b"nope", good[:30], good[:2]):
        with pytest.raises(MediaError):
            decode_jpeg(bad)
    # flip SOF0 to SOF9 (arithmetic sequential) → explicit unsupported
    arith = bytearray(good)
    i = arith.find(b"\xff\xc0")
    arith[i + 1] = 0xC9
    with pytest.raises(MediaError, match="non-baseline"):
        decode_jpeg(bytes(arith))
    # SOF0 flipped to SOF2 makes the baseline SOS header (Ss=0, Se=63)
    # illegal for a progressive frame — still a clean MediaError
    prog = bytearray(good)
    prog[i + 1] = 0xC2
    with pytest.raises(MediaError):
        decode_jpeg(bytes(prog))


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive (SOF2: DC first+refine, two spectral AC bands at
    Al=2 refined down to Al=0, EOB runs) carries the SAME quantized
    coefficients as baseline at equal quality — decoded pixels must be
    bit-identical across the two entropy layouts."""
    import numpy as np

    from pdf_to_text_spark.core.jpegcodec import (
        decode_jpeg, encode_jpeg, encode_jpeg_progressive)

    rng = np.random.default_rng(11)
    for (w, h, ch) in [(16, 16, 1), (24, 17, 3), (33, 9, 3)]:
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8).tobytes()
        for q in (50, 90):
            prog = encode_jpeg_progressive(w, h, ch, px, quality=q)
            assert decode_jpeg(prog) == decode_jpeg(encode_jpeg(w, h, ch, px, quality=q))


def test_jpeg_multiscan_baseline_and_fill_bytes():
    """The legal one-scan-per-component baseline layout (T.81 B.2.3)
    decodes identically to the interleaved layout (r3 ADVICE: it used
    to die in a raw KeyError); 0xFF fill bytes before a marker are
    skipped per B.1.1.2."""
    import numpy as np
    import pytest

    from pdf_to_text_spark.core.jpegcodec import decode_jpeg, encode_jpeg
    from pdf_to_text_spark.core.mediacodec import MediaError

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(11, 14, 3), dtype=np.uint8).tobytes()
    inter = encode_jpeg(14, 11, 3, px, quality=80)
    multi = encode_jpeg(14, 11, 3, px, quality=80, interleaved=False)
    assert decode_jpeg(multi) == decode_jpeg(inter)

    i = inter.find(b"\xff\xc0")
    filled = inter[:i] + b"\xff\xff\xff" + inter[i:]
    assert decode_jpeg(filled) == decode_jpeg(inter)

    # dropping the last component's scan → MediaError, not KeyError
    trunc = multi[: multi.rfind(b"\xff\xda")] + b"\xff\xd9"
    with pytest.raises(MediaError, match="incomplete scans"):
        decode_jpeg(trunc)
