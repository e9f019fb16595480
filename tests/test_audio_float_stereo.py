"""Round-5 codec additions: IEEE float32 WAV (format tag 3, incl. the
KSDATAFORMAT float GUID under WAVE_FORMAT_EXTENSIBLE) and 2-channel
stereo for the per-SAMPLE codec family, plus the round-5 hardening
fixes (duplicate-fmt-chunk guard, non-finite SNR gates, stereo-ADPCM
documented rejection).

The reference has no audio surface (jio is a document validator); these
pin engine-extension behavior against the public RIFF/WAVE spec the way
test_audio.py / test_audio_adpcm.py do for the round-3/4 codecs.
"""

import struct

import numpy as np
import pytest

from jio_spark.audio.codecs import (CODECS, DEFAULT_AMPLITUDE, ENCODERS,
                                    _one_period, decode_wav,
                                    encode_stereo_wav, parse_wav,
                                    snr_db_vs_period, synth_wave,
                                    wrap_extensible)
from jio_spark.audio.decode import validate_gates

PER_SAMPLE_CODECS = ["pcm_s16le", "ulaw", "alaw", "pcm_u8", "pcm_s24le",
                     "pcm_f32le"]
_FMT_FLOAT = 3


def _wav_bytes(payload: bytes, tag: int, sr: int, bits: int,
               channels: int = 1) -> bytes:
    """A canonical 44-byte-header WAV around an arbitrary payload — for
    payloads no encoder writes (non-finite floats, ragged lengths,
    widths the codec table does not list)."""
    align = bits // 8 * channels
    return struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(payload), b"WAVE",
        b"fmt ", 16, tag, channels, sr, sr * align, align, bits,
        b"data", len(payload)) + payload


@pytest.fixture(scope="module")
def pcm():
    return synth_wave(440.0, 500, 16000)


# -- IEEE float32 -----------------------------------------------------------

def test_f32_roundtrip_is_exact(pcm):
    """int16 → /32768 float32 → int16 is the identity (float32's 24-bit
    mantissa holds int16 exactly), so a clean float clip measures SNR ∞."""
    raw = ENCODERS["pcm_f32le"](pcm, 16000)
    dec, sr, codec = decode_wav(raw)
    assert (codec, sr) == ("pcm_f32le", 16000)
    assert np.array_equal(dec, pcm)
    coded, _, _ = parse_wav(raw)
    assert coded.spec is CODECS["pcm_f32le"]
    assert len(coded) == len(pcm)
    assert coded.nbytes == 4 * len(pcm)
    period = _one_period(440.0, 16000, DEFAULT_AMPLITUDE)
    assert snr_db_vs_period(coded, codec, period, len(pcm)) == float("inf")


def test_f32_under_extensible_guid(pcm):
    """The KSDATAFORMAT float subformat shares the tag-bytes GUID scheme:
    tag 3 rides the GUID's leading bytes and unwraps to pcm_f32le."""
    raw = wrap_extensible(ENCODERS["pcm_f32le"](pcm, 16000))
    dec, sr, codec = decode_wav(raw)
    assert codec == "pcm_f32le" and sr == 16000
    assert np.array_equal(dec, pcm)


def test_f32_malformed_rejections(pcm):
    raw = bytearray(ENCODERS["pcm_f32le"](pcm, 16000))
    # an unsupported float width (bits=48): rejected, not misread
    # (bits=64 now parses as pcm_f64le — see the f64 arm below)
    bad = bytearray(raw)
    bad[34:36] = struct.pack("<H", 48)
    with pytest.raises(ValueError):
        parse_wav(bytes(bad))
    # payload not a multiple of 4 bytes
    f = np.zeros(5, dtype="<f4").tobytes() + b"\x00"
    with pytest.raises(ValueError):
        parse_wav(_wav_bytes(f, _FMT_FLOAT, 8000, 32))


def test_f32_nonfinite_payload_decodes_deterministically():
    """Corrupt float files can carry NaN/±inf bit patterns; the decode
    maps them to 0 / the int16 rails — never an undefined float→int
    cast that could differ across numpy versions or crash a task."""
    f = np.array([np.nan, np.inf, -np.inf, 0.5, -0.5, 2.0, -2.0],
                 dtype="<f4")
    dec, _, codec = decode_wav(_wav_bytes(f.tobytes(), _FMT_FLOAT,
                                          8000, 32))
    assert codec == "pcm_f32le"
    assert list(dec) == [0, 32767, -32768, 16384, -16384, 32767, -32768]


def test_f32_rounding_is_ties_to_even():
    # 0.5/32768 scales to exactly 0.5 → rounds to 0; 1.5/32768 → 2
    f = (np.array([0.5, 1.5, 2.5, -0.5, -1.5], dtype=np.float64)
         / 32768.0).astype("<f4")
    dec, _, _ = decode_wav(_wav_bytes(f.tobytes(), _FMT_FLOAT, 8000, 32))
    assert list(dec) == [0, 2, 2, 0, -2]


# -- stereo -----------------------------------------------------------------

@pytest.mark.parametrize("codec", PER_SAMPLE_CODECS)
def test_stereo_dual_mono_matches_mono(pcm, codec):
    """Dual-mono stereo (the fixture convention): the (L+R+1)>>1 downmix
    recovers the mono decode EXACTLY, len() counts FRAMES, and the SNR
    verdict equals the mono counterpart's."""
    sraw = encode_stereo_wav(pcm, 16000, codec)
    coded, sr, got = parse_wav(sraw)
    assert got == codec and coded.channels == 2
    assert len(coded) == len(pcm)          # frames, not samples
    assert coded.nbytes == len(sraw) - 44  # payload only
    mono_dec, _, _ = decode_wav(ENCODERS[codec](pcm, 16000))
    assert np.array_equal(coded.decode(), mono_dec)
    dec, _, _ = decode_wav(sraw)
    assert np.array_equal(dec, mono_dec)
    period = _one_period(440.0, 16000, DEFAULT_AMPLITUDE)
    s_st = snr_db_vs_period(coded, got, period, len(pcm))
    s_mono = snr_db_vs_period(parse_wav(ENCODERS[codec](pcm, 16000))[0],
                              codec, period, len(pcm))
    assert s_st == s_mono


@pytest.mark.parametrize("codec", PER_SAMPLE_CODECS)
def test_stereo_under_extensible(pcm, codec):
    raw = wrap_extensible(encode_stereo_wav(pcm, 16000, codec))
    coded, _, got = parse_wav(raw)
    assert got == codec and coded.channels == 2
    mono_dec, _, _ = decode_wav(ENCODERS[codec](pcm, 16000))
    assert np.array_equal(coded.decode(), mono_dec)


def test_true_stereo_downmix_formula():
    """Distinct channels: downmix is the round-half-up mean, checked
    against a hand-computed interleave (L=100·k, R=0 → 50·k rounded up;
    negative L floor-halves the +1 bias correctly)."""
    left = np.array([100, -101, 7, -32768, 32767], dtype=np.int16)
    right = np.zeros(5, dtype=np.int16)
    inter = np.empty(10, dtype=np.int16)
    inter[0::2] = left
    inter[1::2] = right
    raw = _wav_bytes(inter.astype("<i2").tobytes(), 1, 8000, 16,
                     channels=2)
    dec, _, codec = decode_wav(raw)
    assert codec == "pcm_s16le"
    want = ((left.astype(np.int32) + 0 + 1) >> 1).astype(np.int16)
    assert np.array_equal(dec, want)


def test_stereo_odd_sample_count_rejected():
    # 3 int16 samples cannot be 2-channel frames
    raw = _wav_bytes(np.zeros(3, dtype="<i2").tobytes(), 1, 8000, 16,
                     channels=2)
    with pytest.raises(ValueError):
        parse_wav(raw)


def test_three_channels_rejected(pcm):
    raw = bytearray(ENCODERS["pcm_s16le"](pcm, 16000))
    raw[22:24] = struct.pack("<H", 3)
    with pytest.raises(ValueError):
        parse_wav(bytes(raw))


def test_more_than_two_channels_is_one_decode_violation(spark):
    """3- and 6-channel WAVs — well-formed, written by the codec table's
    own writer, for a per-sample codec and for block-coded ADPCM — are
    outside the mono/stereo decode policy: parse_wav raises ValueError,
    and the decode check reports exactly one violation per clip, the
    decode one (no downmix is guessed, no dur/snr defect invented)."""
    from jio_spark.audio.codecs import encode_wav
    from jio_spark.audio.decode import decode_check, decode_violations
    from jio_spark.audio.synth import (_row_params, expected_signal,
                                       expected_transcript)
    i = 5
    _, _, sr, dur, _, _ = _row_params(i, False)
    sig = expected_signal(i)
    rows = []
    for channels in (3, 6):
        for codec in ("pcm_s16le", "adpcm_ima"):
            raw = encode_wav(np.repeat(sig, channels), sr, codec,
                             channels=channels,
                             block_align=44 * channels)
            with pytest.raises(ValueError, match="channel count"):
                parse_wav(raw)
            rows.append((f"clip_{i:012d}", bytearray(raw), sr, dur, codec,
                         expected_transcript(i)))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    got = decode_violations(decode_check(df, salt=False)).collect()
    assert len(got) == len(rows) == 4
    assert {(r["rule_path"], r["rule_name"]) for r in got} \
        == {("bytes", "decode")}
    assert all("unsupported channel count" in r["actual"] for r in got)


def test_stereo_adpcm_decodes_with_frame_semantics(pcm):
    """Round-5: stereo IMA ADPCM decodes for real (per-channel headers +
    4-byte-group interleave; the scalar-oracle bit-exactness pin lives
    in test_audio_adpcm.py). len() counts FRAMES via the fact chunk,
    and the dual-mono downmix clears the ADPCM gate like mono."""
    from jio_spark.audio.codecs import snr_db
    raw = encode_stereo_wav(pcm, 16000, "adpcm_ima")
    coded, sr, codec = parse_wav(raw)
    assert codec == "adpcm_ima"
    assert coded.spec is CODECS["adpcm_ima"] and coded.channels == 2
    assert len(coded) == len(pcm)
    assert snr_db(pcm, coded.decode()) >= 20.0


def test_stereo_adpcm_malformed_geometry_rejected(pcm):
    """A stereo block whose data region cannot split into per-channel
    4-byte group pairs ((ba-8) % 8 != 0) must reject as ONE decode
    violation, never decode wrong samples."""
    raw = bytearray(encode_stereo_wav(pcm, 16000, "adpcm_ima"))
    raw[32:34] = struct.pack("<H", 20)      # (20-8) % 8 != 0
    with pytest.raises(ValueError, match="stereo adpcm"):
        parse_wav(bytes(raw))
    # a header claiming 2 channels over a MONO-geometry block_align (not
    # splittable) likewise rejects
    raw2 = bytearray(ENCODERS["adpcm_ima"](pcm, 16000))  # ba=256 mono
    raw2[22:24] = struct.pack("<H", 2)
    # ba=256: (256-8)%8 == 0, so this parses as stereo with frames
    # recomputed by the stereo formula — the fact chunk (mono count)
    # now EXCEEDS stereo capacity and must reject
    with pytest.raises(ValueError, match="fact chunk exceeds"):
        parse_wav(bytes(raw2))


# -- round-5 hardening fixes ------------------------------------------------

def test_duplicate_fmt_chunk_after_data_is_ignored(pcm):
    """ADVICE r4: only the FIRST fmt chunk parses — a trailing duplicate
    (or coincidental garbage) fmt chunk must not overwrite sr/bits and
    reinterpret the already-captured payload."""
    canon = ENCODERS["pcm_s16le"](pcm, 16000)
    garbage_fmt = (b"fmt " + struct.pack("<I", 16)
                   + struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8))
    raw = bytearray(canon + garbage_fmt)
    raw[4:8] = struct.pack("<I", len(raw) - 8)
    dec, sr, codec = decode_wav(bytes(raw))
    assert (codec, sr) == ("pcm_s16le", 16000)
    assert np.array_equal(dec, pcm)


def test_second_fmt_chunk_before_data_is_ignored(pcm):
    """Same guard when the duplicate precedes data: first fmt wins."""
    canon = ENCODERS["pcm_s16le"](pcm, 16000)
    good_fmt = canon[12:36]
    garbage_fmt = (b"fmt " + struct.pack("<I", 16)
                   + struct.pack("<HHIIHH", 6, 1, 44100, 44100, 1, 8))
    raw = bytearray(canon[:12] + good_fmt + garbage_fmt + canon[36:])
    raw[4:8] = struct.pack("<I", len(raw) - 8)
    dec, sr, codec = decode_wav(bytes(raw))
    assert (codec, sr) == ("pcm_s16le", 16000)
    assert np.array_equal(dec, pcm)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"),
                                 float("-inf")])
def test_validate_gates_rejects_nonfinite(bad):
    """ADVICE r4: json.loads('NaN'/'Infinity') produces non-finite
    floats, and a NaN gate makes every `s >= thr` False — silently
    failing ALL clips. validate_gates must reject them at plan time."""
    with pytest.raises(ValueError):
        validate_gates(bad)
    with pytest.raises(ValueError):
        validate_gates({"default": bad})
    with pytest.raises(ValueError):
        validate_gates({"adpcm_ima": 26.0, "pcm_s16le": bad})


def test_validate_gates_accepts_f32_key():
    validate_gates({"pcm_f32le": 35.0, "adpcm_ima": 20.0,
                    "default": 30.0})


# -- Arrow decode path end-to-end -------------------------------------------

def test_decode_check_over_mixed_layouts(spark):
    """The full mapInPandas decode over a frame mixing mono float32,
    stereo float32, EXTENSIBLE stereo G.711 and stereo-ADPCM rows: every
    row decodes, per-row verdicts match the per-clip expectations, and
    the stereo rows' n_samples count FRAMES (the unit the dur check is
    defined in). The stereo-ADPCM row rides the batch-stacked deferred
    SNR path with its per-codec gate."""
    from jio_spark.audio.decode import decode_check
    from jio_spark.audio.synth import (MIX_SNR_GATES, expected_signal,
                                       expected_transcript)

    i = 5
    sig = expected_signal(i)
    from jio_spark.audio.synth import _row_params
    _, _, sr, dur, _, _ = _row_params(i, False)
    tid = f"clip_{i:012d}"
    tr = expected_transcript(i)
    rows = [
        ("pcm_f32le", bytearray(ENCODERS["pcm_f32le"](sig, sr))),
        ("pcm_f32le", bytearray(encode_stereo_wav(sig, sr, "pcm_f32le"))),
        ("ulaw", bytearray(wrap_extensible(
            encode_stereo_wav(sig, sr, "ulaw")))),
        ("adpcm_ima", bytearray(encode_stereo_wav(sig, sr, "adpcm_ima"))),
    ]
    df = spark.createDataFrame(
        [(tid, raw, sr, dur, codec, tr) for codec, raw in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string")
    res = decode_check(df, check_reference=True, salt=False,
                       snr_threshold=MIX_SNR_GATES).collect()
    assert len(res) == 4
    for r in res:
        assert r["decode_ok"], r
        assert r["codec_match"] and r["sr_match"] and r["dur_match"], r
        assert r["snr_ok"] and r["transcript_match"], r
        assert r["n_samples"] == len(sig), r   # frames, all layouts


# -- IEEE float64 (round-5 late addition) -----------------------------------

def test_f64_roundtrip_extensible_and_stereo(pcm):
    """bits=64 under tag 3 (the rare scientific/DAW export width):
    /32768 float64 round-trips int16 exactly, unwraps from EXTENSIBLE,
    and carries stereo like every other per-sample codec."""
    raw = ENCODERS["pcm_f64le"](pcm, 16000)
    coded, sr, codec = parse_wav(raw)
    assert codec == "pcm_f64le" and coded.spec is CODECS["pcm_f64le"]
    assert len(coded) == len(pcm) and coded.nbytes == 8 * len(pcm)
    dec, _, _ = decode_wav(raw)
    assert np.array_equal(dec, pcm)
    dec2, _, c2 = decode_wav(wrap_extensible(raw))
    assert c2 == "pcm_f64le" and np.array_equal(dec2, pcm)
    dec3, _, c3 = decode_wav(encode_stereo_wav(pcm, 16000, "pcm_f64le"))
    assert c3 == "pcm_f64le" and np.array_equal(dec3, pcm)


def test_f64_nonfinite_and_malformed():
    f = np.array([np.nan, np.inf, -np.inf, 0.25], dtype="<f8")
    dec, _, codec = decode_wav(_wav_bytes(f.tobytes(), _FMT_FLOAT,
                                          8000, 64))
    assert codec == "pcm_f64le"
    assert list(dec) == [0, 32767, -32768, 8192]
    # payload not a multiple of 8; and an unsupported float width
    with pytest.raises(ValueError):
        parse_wav(_wav_bytes(f.tobytes() + b"\x00", _FMT_FLOAT, 8000, 64))
    with pytest.raises(ValueError):
        parse_wav(_wav_bytes(f.tobytes(), _FMT_FLOAT, 8000, 48))
