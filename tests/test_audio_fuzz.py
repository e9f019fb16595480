"""Hostile-payload fuzz for the audio parse/check kernels (no Spark).

The Arrow decode UDF's crash surface is ``parse_wav`` + ``snr_db_vs_period``
(decode.py catches exactly ``(ValueError, TypeError)`` around the parse, so
any OTHER exception type — struct.error, IndexError, ZeroDivisionError —
would kill the whole Spark task instead of producing one violation row).
These fuzzers pin that contract: for ANY byte string, parse_wav either
returns a valid (samples, sr, codec) triple or raises ValueError/TypeError,
and every successfully-parsed corruption flows through the fused SNR kernel
to a plain float. Mirrors the reference's per-value error discipline
(/root/reference/error.go:9-31: every failure is a reported error, never a
panic)."""

import struct

import numpy as np
from hypothesis import given, settings, strategies as st

from jio_spark.audio.codecs import (ENCODERS, Coded, encode_wav,
                                    parse_wav, snr_db_vs_period, synth_wave)

FUZZ = dict(deadline=None, max_examples=300)
CODECS = sorted(ENCODERS)


def _assert_parse_contract(raw):
    """parse_wav(raw) is total: valid triple or ValueError/TypeError."""
    try:
        coded, sr, codec = parse_wav(bytes(raw))
    except (ValueError, TypeError):
        return None
    assert isinstance(coded, Coded) and codec == coded.spec.name
    assert codec in {"pcm_s16le", "pcm_u8", "pcm_s24le", "pcm_f32le",
                     "pcm_f64le", "ulaw", "alaw", "adpcm_ima"}
    assert isinstance(sr, int) and sr >= 0
    assert coded.nbytes <= len(raw)
    assert len(coded) >= 0
    return coded, sr, codec


@settings(**FUZZ)
@given(st.binary(max_size=200))
def test_parse_wav_total_on_random_bytes(raw):
    _assert_parse_contract(raw)


@settings(**FUZZ)
@given(st.binary(min_size=44, max_size=120))
def test_parse_wav_total_on_riff_prefixed_garbage(raw):
    # force past the magic check so the header field parsing fuzzes too
    _assert_parse_contract(b"RIFF" + raw[4:8] + b"WAVE" + raw[12:])


@settings(deadline=None, max_examples=150)
@given(
    codec=st.sampled_from(CODECS),
    sr=st.sampled_from([8000, 16000]),
    dur=st.integers(40, 200),
    ops=st.lists(
        st.one_of(
            # truncate to k bytes
            st.tuples(st.just("trunc"), st.integers(0, 400)),
            # flip one byte at offset
            st.tuples(st.just("flip"), st.integers(0, 399)),
            # overwrite a 2-byte header field at offset 20..42
            st.tuples(st.just("hdr"),
                      st.tuples(st.sampled_from(range(20, 43, 2)),
                                st.integers(0, 0xFFFF)))),
        min_size=1, max_size=4))
def test_mutated_wav_parses_or_rejects_and_snr_is_total(codec, sr, dur, ops):
    pcm = synth_wave(440.0, dur, sr)
    raw = bytearray(ENCODERS[codec](pcm, sr))
    for op, arg in ops:
        if op == "trunc":
            raw = raw[: min(arg, len(raw))]
        elif op == "flip" and len(raw) > 0:
            raw[arg % len(raw)] ^= 0xFF
        elif op == "hdr" and len(raw) >= 44:
            off, val = arg
            raw[off:off + 2] = struct.pack("<H", val)
    parsed = _assert_parse_contract(raw)
    if parsed is None:
        return
    coded, got_sr, got_codec = parsed
    # the full check path: a parsed-but-corrupt payload must flow through
    # the fused SNR kernel to a float (−inf/nan/inf included), never raise
    period = synth_wave(440.0, 1000 // 440 + 3, sr)  # a few periods
    s = snr_db_vs_period(coded, got_codec, period, len(pcm))
    assert isinstance(s, float)


@settings(deadline=None, max_examples=120)
@given(st.integers(0, 2**31 - 1), st.integers(1, 900),
       st.sampled_from([12, 64, 256, 512]))
def test_adpcm_roundtrip_matches_scalar_oracle(seed, n, block_align):
    """Hypothesis arm of the ADPCM conformance: for random PCM of random
    length and block geometry, the vectorized encoder's payload decodes
    (via the vectorized decoder AND the in-test scalar transliteration in
    test_audio_adpcm) to identical samples, and the container roundtrip
    preserves the exact sample count through the fact chunk."""
    from jio_spark.audio.codecs import (adpcm_decode_stacked,
                                        adpcm_ima_encode)
    from tests.test_audio_adpcm import _oracle_decode_block
    rng = np.random.default_rng(seed)
    pcm = rng.integers(-32768, 32768, size=n).astype(np.int16)
    payload = adpcm_ima_encode(pcm, block_align)
    blocks = [payload[i:i + block_align]
              for i in range(0, len(payload), block_align)]
    want = np.concatenate([_oracle_decode_block(b, block_align)
                           for b in blocks])
    (got,) = adpcm_decode_stacked(
        [np.frombuffer(payload, np.uint8)], block_align)
    assert np.array_equal(want, got)
    coded, _, codec = parse_wav(
        encode_wav(pcm, 16000, "adpcm_ima", block_align=block_align))
    assert codec == "adpcm_ima" and len(coded) == n


@settings(deadline=None, max_examples=120)
@given(st.integers(0, 2**31 - 1), st.integers(1, 2000))
def test_pcm_u8_decode_is_exact_lut(seed, n):
    """pcm_u8 round trip: every decoded sample equals the excess-128
    rescale of its code, and re-encoding the decoded PCM is the
    identity on codes (the LUT pair is mutually inverse on its range)."""
    from jio_spark.audio.codecs import pcm_u8_decode, pcm_u8_encode
    rng = np.random.default_rng(seed)
    codes = rng.integers(0, 256, size=n).astype(np.uint8)
    dec = pcm_u8_decode(codes)
    assert np.array_equal(dec, ((codes.astype(np.int32) - 128) << 8)
                          .astype(np.int16))
    assert np.array_equal(pcm_u8_encode(dec), codes)


# -- adversarial RIFF container fuzz (round-5 task: chunk-walk hardening) ---

def _chunks_of(raw: bytes):
    """Split a WAV into its chunk list [(cid, body), ...]."""
    out, pos = [], 12
    while pos + 8 <= len(raw):
        cid = raw[pos:pos + 4]
        (n,) = struct.unpack("<I", raw[pos + 4:pos + 8])
        out.append((cid, raw[pos + 8:pos + 8 + n]))
        pos += 8 + n + (n & 1)
    return out


def _rebuild(chunks) -> bytes:
    body = b""
    for cid, cbody in chunks:
        body += cid + struct.pack("<I", len(cbody)) + cbody
        if len(cbody) & 1:
            body += b"\x00"           # word alignment pad
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


@settings(deadline=None, max_examples=250)
@given(
    codec=st.sampled_from(CODECS + ["stereo:pcm_s16le", "stereo:ulaw",
                                    "stereo:adpcm_ima",
                                    "ext:pcm_s16le", "ext:pcm_f32le"]),
    inserts=st.lists(
        st.tuples(
            st.integers(0, 6),                      # insertion position
            st.sampled_from([b"LIST", b"junk", b"id3 ", b"bext",
                             b"fak\x00", b"cue "]),
            st.binary(max_size=9)),                 # incl. odd lengths
        max_size=3),
    swap=st.booleans(),
    trunc_at_boundary=st.integers(-1, 8))
def test_riff_walk_adversarial_containers(codec, inserts, swap,
                                          trunc_at_boundary):
    """Permute/augment/truncate the CHUNK STRUCTURE of a valid WAV:

    * unknown chunks (odd lengths included) inserted anywhere must be
      skipped — if fmt and data survive intact and ordered, the decode
      is BIT-IDENTICAL to the canonical file (never wrong samples);
    * moving data before fmt must reject (the walk requires fmt first);
    * truncating at any chunk boundary must reject or decode a valid
      prefix — never crash with a non-ValueError."""
    from jio_spark.audio.codecs import encode_stereo_wav, wrap_extensible
    pcm = synth_wave(330.0, 80, 8000)
    if codec.startswith("stereo:"):
        raw = encode_stereo_wav(pcm, 8000, codec.split(":")[1])
    elif codec.startswith("ext:"):
        raw = wrap_extensible(ENCODERS[codec.split(":")[1]](pcm, 8000))
    else:
        raw = ENCODERS[codec](pcm, 8000)
    want = parse_wav(raw)[0].decode()
    chunks = _chunks_of(raw)
    for pos, cid, body in inserts:
        chunks.insert(min(pos, len(chunks)), (cid, body))
    if swap and len(chunks) >= 2:
        chunks = chunks[::-1]       # reverse order: data before fmt
    raw2 = _rebuild(chunks)
    if 0 <= trunc_at_boundary:
        # truncate at the trunc_at_boundary-th chunk boundary
        pos, seen = 12, 0
        while pos + 8 <= len(raw2) and seen < trunc_at_boundary:
            (n,) = struct.unpack("<I", raw2[pos + 4:pos + 8])
            pos += 8 + n + (n & 1)
            seen += 1
        raw2 = raw2[:pos]
    try:
        coded, sr, got = parse_wav(raw2)
    except (ValueError, TypeError):
        return
    # never a crash; and if the parse SUCCEEDED with the original fmt
    # before the original data (no truncation, no swap), the samples
    # must be bit-identical — unknown chunks can never corrupt a decode
    if trunc_at_boundary < 0 and not swap:
        assert sr == 8000
        assert np.array_equal(coded.decode(), want)


@settings(deadline=None, max_examples=200)
@given(data=st.data())
def test_riff_walk_random_chunk_soup(data):
    """Fully random chunk soup behind a valid RIFF/WAVE magic: the walk
    must stay total (parse or ValueError/TypeError) whatever the chunk
    ids, declared lengths (incl. lengths pointing past EOF), and
    bodies."""
    n_chunks = data.draw(st.integers(0, 5))
    body = b""
    for _ in range(n_chunks):
        cid = data.draw(st.one_of(
            st.sampled_from([b"fmt ", b"data", b"fact", b"LIST"]),
            st.binary(min_size=4, max_size=4)))
        declared = data.draw(st.integers(0, 80))
        chunk_body = data.draw(st.binary(max_size=40))
        body += cid + struct.pack("<I", declared) + chunk_body
    raw = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    _assert_parse_contract(raw)


@settings(deadline=None, max_examples=100)
@given(st.integers(0, 2**31 - 1), st.integers(1, 700),
       st.sampled_from([16, 64, 256, 512]))
def test_stereo_adpcm_roundtrip_matches_scalar_oracle(seed, n, ba):
    """Hypothesis arm of the stereo-ADPCM conformance: random
    independent channels of random length and block geometry — the
    vectorized stereo encoder's payload decodes per channel to exactly
    what the scalar stereo-block oracle produces, and the container
    round trip preserves the frame count through the fact chunk."""
    from jio_spark.audio.codecs import (adpcm_decode_channels,
                                        adpcm_ima_encode)
    from tests.test_audio_adpcm import (_interleave,
                                        _oracle_decode_stereo_block)
    rng = np.random.default_rng(seed)
    left = rng.integers(-32768, 32768, size=n).astype(np.int16)
    right = rng.integers(-32768, 32768, size=n).astype(np.int16)
    pcm = _interleave(left, right)
    payload = adpcm_ima_encode(pcm, ba, channels=2)
    want_l, want_r = [], []
    for i in range(0, len(payload), ba):
        ol, orr = _oracle_decode_stereo_block(payload[i:i + ba], ba)
        want_l.append(ol)
        want_r.append(orr)
    got_l, got_r = adpcm_decode_channels(
        np.frombuffer(payload, np.uint8), ba, channels=2)
    assert np.array_equal(np.concatenate(want_l), got_l)
    assert np.array_equal(np.concatenate(want_r), got_r)
    coded, _, codec = parse_wav(
        encode_wav(pcm, 16000, "adpcm_ima", channels=2, block_align=ba))
    assert codec == "adpcm_ima"
    assert coded.channels == 2 and len(coded) == n
