"""Validation of the vendored ISO 11172-3 Table 3-B.3 synthesis
window (multimodal/mpegaudio.py _TABLE_3B3_HALF) — the two checks the
table's provenance note promises, plus structural invariants and an
independent re-implementation of the synthesis flow.

No spec text or reference decoder ships in this container, so the
table cannot be character-compared against the printed standard; these
tests pin the two properties that uniquely characterize it to within
its own 16-bit quantization:

* PERFECT RECONSTRUCTION: an analysis filterbank built from the spec
  relation C = D/32, cascaded into synthesize_pcm's window, must
  reconstruct a broadband signal at the MPEG-1 filterbank's published
  ~-90 dB error figure with EXACTLY the textbook 481-sample delay.
  A handful of wrong coefficients (a few 1/65536 steps, anywhere in
  the table) measurably dents this floor.
* STOPBAND: the smooth prototype (signs unfolded) is a lowpass whose
  stopband attenuation must sit at the 16-bit coefficient quantization
  floor (~-106 dB; the design spec demands >= 96 dB). A single
  coefficient off by >= 3 steps raises a broadband floor near -88 dB.
"""

import math

import numpy as np
import pytest

from cam_etl_spark.multimodal.mpegaudio import (
    _TABLE_3B3_HALF,
    decode_mpeg1_audio,
    encode_layer2_frame,
    synthesis_window,
    synthesize_pcm,
)


def test_window_invariants():
    d = np.array(synthesis_window())
    assert d.shape == (512,)
    # every printed value is a multiple of 1/65536
    assert np.all(np.abs(d * 65536 - np.round(d * 65536)) < 1e-9)
    # documented endpoints: D[0] = 0.000000000, peak D[256] = 1.144989014
    assert d[0] == 0.0
    assert d[256] == pytest.approx(75038 / 65536)
    assert float(np.abs(d).max()) == pytest.approx(1.144989014, abs=5e-9)
    # magnitude even-symmetric about 256; signs flip per odd 64-block
    for i in range(1, 256):
        assert abs(d[i]) == abs(d[512 - i])
    for i in range(512):
        expect_sign = -1.0 if (i // 64) % 2 else 1.0
        mag = _TABLE_3B3_HALF[i if i <= 256 else 512 - i]
        assert d[i] == expect_sign * mag / 65536.0


def test_prototype_stopband_at_quantization_floor():
    """Unfold the block signs back to the smooth lowpass prototype and
    measure its stopband: must be below -100 dB (true table: -106 dB);
    a recalled-wrong coefficient would raise a floor near -88 dB."""
    half = np.array(_TABLE_3B3_HALF, dtype=float)
    h = np.concatenate([half, half[255:0:-1]]) / 65536.0
    H = np.abs(np.fft.rfft(h, 65536))
    mag_db = 20 * np.log10(H / H.max() + 1e-300)
    # stopband: beyond ~3x the nominal pi/64 subband cutoff
    assert mag_db[2048:].max() < -100.0


def _analysis(x, c):
    """The spec's 3-A.1 analysis flowchart (test-local independent
    implementation): 512-sample X register (newest at X[0]), window,
    8-fold partial sums, 32x64 cosine matrix M[i][k]=cos((2i+1)(k-16)
    pi/64)."""
    M = np.array(
        [
            [math.cos((2 * i + 1) * (k - 16) * math.pi / 64) for k in range(64)]
            for i in range(32)
        ]
    )
    X = np.zeros(512)
    out = []
    for pos in range(0, len(x) - 512, 32):
        X = np.concatenate([x[pos:pos + 32][::-1], X[:-32]])
        out.append(M @ (X * c).reshape(8, 64).sum(axis=0))
    return np.array(out)


def _synthesis_raw(S, d):
    """Annex A Fig. A.2, test-local (independent of synthesize_pcm's
    frame plumbing): V shift, U build, window, 16-tap sum."""
    N = np.array(
        [
            [math.cos((16 + i) * (2 * k + 1) * math.pi / 64) for k in range(32)]
            for i in range(64)
        ]
    )
    V = np.zeros(1024)
    out = []
    for s in S:
        V = np.concatenate([N @ s, V[:-64]])
        U = np.empty(512)
        for q in range(8):
            U[64 * q:64 * q + 32] = V[128 * q:128 * q + 32]
            U[64 * q + 32:64 * q + 64] = V[128 * q + 96:128 * q + 128]
        out.append((U * d).reshape(16, 32).sum(axis=0))
    return np.concatenate(out)


def test_perfect_reconstruction_at_published_floor():
    d = np.array(synthesis_window())
    c = d / 32.0
    rng = np.random.default_rng(7)
    n = 32 * 400 + 512
    t = np.arange(n)
    x = (
        0.3 * np.sin(2 * np.pi * 0.0123 * t)
        + 0.2 * np.sin(2 * np.pi * 0.1371 * t + 1.0)
        + 0.1 * rng.standard_normal(n)
    )
    y = _synthesis_raw(_analysis(x, c), d)
    # the cascade delay is exactly 481 samples; gain is +1 up to the
    # pseudo-QMF's own passband ripple (~1e-4), so measure SNR at the
    # ripple-optimal gain and pin that gain to 1 within 1e-3
    yy = y[2000:10000]
    xx = x[2000 - 481:2000 - 481 + len(yy)]
    g = float(xx @ yy / (yy @ yy))
    assert g == pytest.approx(1.0, abs=1e-3)
    err = xx - g * yy
    snr = 10 * np.log10((xx ** 2).sum() / (err ** 2).sum())
    assert snr > 85.0  # published filterbank figure ~ -90 dB (measures 88.8)
    # neighbor delays must be decisively worse (pin 481 exactly)
    for wrong in (480, 482):
        xw = x[2000 - wrong:2000 - wrong + len(yy)]
        sw = 10 * np.log10((xw ** 2).sum() / ((xw - yy) ** 2).sum())
        assert sw < 20.0


def test_synthesize_pcm_matches_independent_replay():
    """synthesize_pcm's frame plumbing (active-subband scatter, per-
    frame loop) must agree bit-for-bit with the raw test-local
    synthesis over the same subband samples."""
    alloc = [0] * 27  # table 3-B.2a sblimit (48 kHz / 192 kbps default)
    alloc[0], alloc[3], alloc[17] = 5, 7, 3
    scfsi = [0, 1, 2]
    scf = [(10, 11, 12), (20, 21, 22), (30, 30, 30)]
    codes = [[(j * 11 + s) % 3 for j in range(36)] for s in range(3)]
    buf = encode_layer2_frame(alloc, scfsi, scf, codes)
    frames = decode_mpeg1_audio(buf)["frames"]
    pcm = synthesize_pcm(frames)

    f = frames[0]
    sb_vals = np.zeros((32, 36))
    for pos, sb in enumerate(f["active"]):
        sb_vals[sb] = f["values"][pos]
    raw = _synthesis_raw(sb_vals.T, np.array(synthesis_window()))
    assert pcm.shape == raw.shape
    assert np.array_equal(pcm, raw)


def test_sql_window_literal_matches_table():
    """The SQL list literal shared by the two synthesis oracles must
    stay numerically identical to the canonical vendored table — a
    coefficient correction applied to one but not the other would
    otherwise fork silently."""
    import re

    from cam_etl_spark.plans.oracle_sql import TABLE_3B3_SQL

    nums = [int(x) for x in re.findall(r"-?\d+", TABLE_3B3_SQL)]
    assert tuple(nums) == _TABLE_3B3_HALF
