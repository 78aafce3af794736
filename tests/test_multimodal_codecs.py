"""Real multimodal codecs (round-4): the pure-NumPy PPM/WAV encode ->
decode roundtrip is exact, header corruption is detected, and the
extracted features match the closed-form generators the DuckDB oracle
uses (see __spark_entry__.media_decode)."""

from __future__ import annotations

import numpy as np
import pytest

from s2js_spark.spark.multimodal import (
    _ppm_bytes,
    _wav_bytes,
    decode_ppm,
    decode_wav,
)


@pytest.mark.parametrize("m", [0, 2, 14, 256, 1234568])
def test_ppm_roundtrip_exact(m):
    px = decode_ppm(_ppm_bytes(m))
    w, h = 8 + m % 5, 6 + m % 3
    assert px.shape == (h, w, 3)
    want = ((m + np.arange(3 * w * h)) % 256).astype(np.uint8)
    assert np.array_equal(px.reshape(-1), want)


@pytest.mark.parametrize("m", [1, 3, 57, 999, 1234567])
def test_wav_roundtrip_exact(m):
    s = decode_wav(_wav_bytes(m))
    n = 200 + m % 57
    want = (((m * 17 + 29 * np.arange(n, dtype=np.int64)) % 4096) - 2048).astype(
        np.int16
    )
    assert np.array_equal(s, want)


def test_ppm_header_varies_with_dims():
    # dims live in the ASCII header — decoder must parse, not assume
    a, b = _ppm_bytes(2), _ppm_bytes(14)  # 10x8 vs 12x8
    assert decode_ppm(a).shape != decode_ppm(b).shape


def test_corrupt_headers_raise():
    good_img = _ppm_bytes(2)
    with pytest.raises(ValueError):
        decode_ppm(b"P5" + good_img[2:])  # wrong magic
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n4 4\n65535\n" + b"\x00" * 48)  # bad maxval
    good_wav = _wav_bytes(1)
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + good_wav[4:])  # wrong magic
    with pytest.raises(ValueError):
        # fmt chunk renamed: data arrives with no fmt seen
        decode_wav(good_wav.replace(b"fmt ", b"fmx ", 1))


def test_features_match_closed_form():
    # the same arithmetic the oracle SQL evaluates
    m = 4
    px = decode_ppm(_ppm_bytes(m)).astype(np.float64)
    n = px.size
    want_mean = sum((m + k) % 256 for k in range(n)) / n
    assert float(np.mean(px)) == want_mean

    m = 7
    s = decode_wav(_wav_bytes(m)).astype(np.float64)
    nn = s.size
    want_rms = (sum((((m * 17 + 29 * k) % 4096) - 2048) ** 2 for k in range(nn)) / nn) ** 0.5
    assert float(np.sqrt(np.mean(s * s))) == want_rms


def test_feature_vector_real_for_container_kinds():
    """media_features path (round-4 verdict #7): image/audio features
    come from genuine container decode; video falls back to the digest
    fake."""
    import numpy as np

    from s2js_spark.spark.multimodal import (
        _decode_feature,
        _feature_vector,
        _ppm_bytes,
        _wav_bytes,
        decode_ppm,
        decode_wav,
    )

    m = 6
    n, img = _feature_vector(_ppm_bytes(m), "image")
    px = decode_ppm(_ppm_bytes(m)).astype(np.float64)
    assert n == px.size
    assert img[0] == px.mean() and img[4] == px.shape[1] and img[5] == px.shape[0]
    assert img[6] == px.min() and img[7] == px.max()

    m = 7
    n, aud = _feature_vector(_wav_bytes(m), "audio")
    s = decode_wav(_wav_bytes(m)).astype(np.float64)
    assert n == s.size
    assert aud[0] == float(np.sqrt(np.mean(s * s))) and aud[4] == s.size

    blob = b"BLOB:deadbeef"
    n, vid = _feature_vector(blob, "video")
    assert n is None
    assert vid == [float(v) for v in _decode_feature(blob, "video")]
