"""Minimal RIFF/WAVE codecs in pure numpy + struct — the sandbox has no
soundfile/librosa/scipy (SURVEY.md §7 environment facts), and the reference
has no audio at all; formats follow the public RIFF/WAVE and ITU-T G.711
specifications.

Everything codec-specific lives in one table, :data:`CODECS`: each
:class:`CodecSpec` row maps a WAVE (format tag, bits per sample) pair to
the codec's name, the numpy dtype of one coded sample, its decode to
int16 and its encode from int16:

=========  ======  ====  ==========================================
codec      tag     bits  coded sample
=========  ======  ====  ==========================================
pcm_s16le  1       16    little-endian int16 (decode is identity)
ulaw       7       8     ITU-T G.711 μ-law byte (256-entry LUT)
alaw       6       8     ITU-T G.711 A-law byte (256-entry LUT)
adpcm_ima  0x11    4     IMA/DVI ADPCM nibble, block-coded
pcm_u8     1       8     WAV's excess-128 unsigned byte
pcm_s24le  1       24    3-byte little-endian int (studio width;
                         compared at int16 precision, exact for
                         payloads produced from 16-bit sources)
pcm_f32le  3       32    IEEE float32, /32768 scaling, decode rounds
                         ties-to-even back to int16
pcm_f64le  3       64    IEEE float64, same scaling
=========  ======  ====  ==========================================

WAVE_FORMAT_EXTENSIBLE (0xFFFE) is unwrapped by :func:`parse_wav` to the
real tag carried in the SubFormat GUID's leading bytes (modern encoders
emit EXTENSIBLE even for plain mono PCM). The table is the only place
the codec set is written down: the parser looks (tag, bits) up in it,
the writer (:func:`encode_wav`, :data:`ENCODERS`) encodes through it,
and the gate validation (``decode.KNOWN_CODECS``) and the codec
dimension (``runner.default_codec_dim``) are derived from it.

:func:`parse_wav` returns one zero-copy view, :class:`Coded`, for every
codec: the spec, the payload, the channel count, the frame count and the
container's block_align. Channels: 1 or 2. Decode policy for stereo is
downmix-to-mono ``(L+R+1)>>1`` before the SNR check — the reference
signal is mono, and the downmix is exact on dual-mono content. The
per-sample codecs decode any stretch of frames on its own (their decodes
commute with channel interleaving), so :func:`snr_db_vs_period` decodes
and downmixes one cache-sized block at a time and never materializes a
clip.

IMA ADPCM follows the public IMA Digital Audio Pack algorithm (the step /
index tables every implementation shares). Unlike the others it is
STATEFUL — a per-sample (predictor, step-index) recurrence over blocks —
so it is the table's one block-coded row. Blocks are independent, so the
recurrence runs once per sample position while staying vectorized ACROSS
blocks; a multi-channel block (one 4-byte header per channel, then the
data interleaved in 4-byte groups per channel) splits into one virtual
mono block per channel, and :func:`adpcm_decode_stacked` stacks every
block of every clip in an Arrow batch into one matrix so the Python-level
loop cost (samples-per-block iterations) amortizes over the whole batch
rather than being paid per clip.
"""

from __future__ import annotations

import struct
from functools import partial
from typing import Callable, NamedTuple, Optional, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# G.711 μ-law

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 μ-law (ITU-T G.711)."""
    x = pcm.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    x = np.abs(x)
    x = np.minimum(x, _ULAW_CLIP) + _ULAW_BIAS
    exp = (np.floor(np.log2(x)) - 7).astype(np.int32)
    exp = np.clip(exp, 0, 7)
    mant = (x >> (exp + 3)) & 0x0F
    u = ~(sign | (exp << 4) | mant) & 0xFF
    return u.astype(np.uint8)


def _ulaw_decode_arith(u: np.ndarray) -> np.ndarray:
    """uint8 μ-law → int16 PCM (reference arithmetic form; used to build
    the 256-entry LUT below)."""
    u = (~u.astype(np.int32)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    x = ((mant << 3) + _ULAW_BIAS) << exp
    x = x - _ULAW_BIAS
    return np.where(sign, -x, x).astype(np.int16)


_ULAW_LUT = _ulaw_decode_arith(np.arange(256, dtype=np.uint8))


def ulaw_decode(u: np.ndarray) -> np.ndarray:
    """uint8 μ-law → int16 PCM via 256-entry table lookup — one gather per
    sample instead of ~8 int32 array ops; the decode hot path is
    memory-bandwidth-bound at high core counts (BENCH/BASELINE.md)."""
    return _ULAW_LUT[u]


# ---------------------------------------------------------------------------
# G.711 A-law

_ALAW_CLIP = 32635


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 A-law (ITU-T G.711)."""
    x = pcm.astype(np.int32)
    sign = np.where(x >= 0, 0x80, 0)
    x = np.minimum(np.abs(x), _ALAW_CLIP)
    big = x >= 256
    exp = np.where(big,
                   np.floor(np.log2(np.maximum(x >> 8, 1))).astype(np.int32)
                   + 1, 0)
    exp = np.clip(exp, 0, 7)
    mant = np.where(exp == 0, x >> 4, (x >> (exp + 3)) & 0x0F)
    a = (sign | (exp << 4) | mant) ^ 0x55
    return a.astype(np.uint8)


def _alaw_decode_arith(a: np.ndarray) -> np.ndarray:
    """uint8 A-law → int16 PCM (reference arithmetic form; LUT source)."""
    a = a.astype(np.int32) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    x = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (exp - 1))
    return np.where(sign, x, -x).astype(np.int16)


_ALAW_LUT = _alaw_decode_arith(np.arange(256, dtype=np.uint8))


def alaw_decode(a: np.ndarray) -> np.ndarray:
    """uint8 A-law → int16 PCM via 256-entry table lookup (see
    ulaw_decode)."""
    return _ALAW_LUT[a]


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAVE format tag 0x11)

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

# The recurrence's per-step work is a pure function of (step index 0..88,
# nibble 0..15), so precompute it as flat 89×16 gather tables: one fancy
# index per step instead of re-deriving step>>k arithmetic per iteration.
_NIB = np.arange(16, dtype=np.int32)
_IMA_DIFF = ((_IMA_STEPS[:, None] >> 3)
             + np.where(_NIB & 1, _IMA_STEPS[:, None] >> 2, 0)
             + np.where(_NIB & 2, _IMA_STEPS[:, None] >> 1, 0)
             + np.where(_NIB & 4, _IMA_STEPS[:, None], 0)).reshape(-1)
_IMA_SIGN = np.where(_NIB & 8, np.int32(-1), np.int32(1))
_IMA_NEXT = np.clip(np.arange(89, dtype=np.int32)[:, None]
                    + _IMA_INDEX_ADJ[_NIB & 7], 0, 88).reshape(-1)


def adpcm_frames_per_block(block_align: int, channels: int = 1) -> int:
    """Frames per IMA WAVE block: one 4-byte header per channel (predictor
    int16, step index, reserved), then 2 samples per data byte, plus each
    header's own sample. With more than one channel the data interleaves
    in 4-byte (8-nibble) groups per channel, so it must split evenly into
    whole group rounds — at 2 channels this is the WAVEFORMATEX
    ``block_align − 7``. Raises ValueError for a block_align the layout
    cannot hold."""
    data = block_align - 4 * channels
    group = 4 * channels if channels > 1 else 1
    if data < group or data % group:
        layout = "stereo " if channels == 2 else ""
        raise ValueError(f"malformed {layout}adpcm payload: block_align "
                         f"{block_align} out of range for {channels} "
                         f"channel(s)")
    return data * 2 // channels + 1


def _channel_blocks(blocks: np.ndarray, channels: int) -> np.ndarray:
    """(n, block_align) IMA blocks → (channels·n, 4 + data/channels)
    virtual MONO blocks, channel-major: each channel's header plus its
    de-interleaved 4-byte data groups form a valid mono block, so ONE run
    of the mono recurrence decodes every channel of every block. The
    split is pure reshape/slice — no Python loop over blocks."""
    if channels == 1:
        return blocks
    n = blocks.shape[0]
    heads = blocks[:, :4 * channels].reshape(n, channels, 4)
    groups = blocks[:, 4 * channels:].reshape(n, -1, channels, 4)
    return np.concatenate([
        np.concatenate([heads[:, c], groups[:, :, c].reshape(n, -1)],
                       axis=1)
        for c in range(channels)])


def _adpcm_decode_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n_blocks, block_align) uint8 mono blocks → (n_blocks,
    samples_per_block) int16.

    The (predictor, index) recurrence is inherently sequential per sample,
    so the loop runs samples_per_block-1 times — but every op inside is
    vectorized across ALL rows, so cost amortizes with the number of
    blocks (see adpcm_decode_stacked for the batch-stacking caller)."""
    nb, ba = blocks.shape
    spb = adpcm_frames_per_block(ba)
    pred = (blocks[:, 0].astype(np.int32)
            | (blocks[:, 1].astype(np.int32) << 8))
    pred = (pred ^ 0x8000) - 0x8000            # sign-extend int16
    index = np.clip(blocks[:, 2].astype(np.int32), 0, 88)
    # work TRANSPOSED: the loop reads byte k of every block and writes
    # sample k+1 of every block — as rows of (spb, nb) both are one
    # contiguous stretch per iteration, where the (nb, spb) orientation
    # would touch every block's cache line every step (~32× the useful
    # write traffic; measured +35% single-core, and the saving grows
    # under multi-core bandwidth contention — BENCH session 9)
    data = np.ascontiguousarray(blocks[:, 4:].T)
    out_t = np.empty((spb, nb), dtype=np.int16)
    out_t[0] = pred
    for k in range(spb - 1):
        byte = data[k >> 1]
        nib = (byte & 0xF) if (k & 1) == 0 else (byte >> 4)
        flat = index * 16 + nib
        pred = np.clip(pred + _IMA_SIGN[nib] * _IMA_DIFF[flat],
                       -32768, 32767)
        index = _IMA_NEXT[flat]
        out_t[k + 1] = pred
    return np.ascontiguousarray(out_t.T)


def adpcm_decode_channels(payload: np.ndarray, block_align: int,
                          channels: int = 1) -> np.ndarray:
    """One IMA payload → (channels, frames) int16 PCM at full
    block-padded length (callers trim to the fact-chunk frame count).
    Each channel is a BIT-EXACT mono recurrence over its de-interleaved
    sub-blocks (pinned against the scalar oracle in
    tests/test_audio_adpcm.py)."""
    blocks = np.ascontiguousarray(payload).reshape(-1, block_align)
    dec = _adpcm_decode_blocks(_channel_blocks(blocks, channels))
    return dec.reshape(channels, -1)


def _downmix(left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """Stereo → mono ``(L + R + 1) >> 1`` (round-half-up mean — exact
    identity for dual-mono content, so a stereo file carrying the
    reference signal on both channels measures the same SNR as its mono
    counterpart). Per-channel SNR is deliberately NOT computed: the
    reference signal is mono, and the documented policy is
    downmix-then-compare (FIXTURES.md §1b)."""
    return ((left.astype(np.int32) + right + 1) >> 1).astype(np.int16)


def adpcm_decode_stacked(payloads, block_align: int, channels: int = 1):
    """Decode MANY clips' payloads in one pass: every block of every clip
    is stacked into a single (total_blocks, block_align) matrix so the
    sequential-per-sample loop in :func:`_adpcm_decode_blocks` runs once
    per BATCH, not once per clip (``channels`` 1 or 2; stereo: both
    channels of every block in the same run, then the downmix). Returns
    one int16 array of frames per payload (full block-padded length;
    callers trim to the clip's true frame count). This is what keeps
    ADPCM viable in the Arrow decode UDF — per-clip decode pays ~500
    numpy-dispatch round-trips on ~30-element vectors, the stacked form
    pays the same 500 on thousands-of-elements vectors."""
    for p in payloads:
        if p.nbytes % block_align:
            # the concatenate+reshape below only needs the TOTAL to be a
            # block multiple — without this per-payload check, two
            # misaligned payloads whose sum happens to divide evenly
            # would decode garbage silently (blocks straddling clips)
            raise ValueError(
                f"adpcm payload of {p.nbytes} bytes is not a multiple "
                f"of block_align {block_align}")
    counts = [p.nbytes // block_align for p in payloads]
    if not counts or sum(counts) == 0:
        return [np.empty(0, dtype=np.int16) for _ in payloads]
    dec = adpcm_decode_channels(
        np.concatenate([np.ascontiguousarray(p).reshape(-1)
                        for p in payloads]), block_align, channels)
    mono = dec[0] if channels == 1 else _downmix(dec[0], dec[1])
    frames_per_block = len(mono) // sum(counts)
    return np.split(mono, np.cumsum(counts[:-1]) * frames_per_block)


def _adpcm_encode_mono(pcm: np.ndarray, block_align: int) -> np.ndarray:
    """int16 PCM → (n_blocks, block_align) uint8 mono IMA blocks (the tail
    block is padded by repeating the final sample, trimmed on decode via
    the fact chunk's sample count). Encoder-side predictor/index updates
    replay the decoder tables exactly, so encode∘decode drift is just the
    quantizer's — the property the SNR check measures.

    Vectorized across blocks like the decoder: each block's initial
    predictor is its first sample (stored verbatim in the header) and the
    initial step index is chosen per block from the first delta."""
    spb = adpcm_frames_per_block(block_align)
    n = len(pcm)
    nb = max(1, -(-n // spb))
    pad = nb * spb - n
    if pad:
        tail = pcm[-1] if n else np.int16(0)
        pcm = np.concatenate([pcm, np.full(pad, tail, dtype=np.int16)])
    # transposed like the decoder: per-step reads (sample k+1 of every
    # block) and writes (nibble k of every block) are contiguous rows of
    # (spb, nb) matrices instead of strided columns of row-major ones
    s_t = np.ascontiguousarray(
        pcm.astype(np.int32).reshape(nb, spb).T)
    pred = s_t[0].copy()
    d0 = np.abs(s_t[1] - pred) if spb > 1 else np.zeros(nb, dtype=np.int32)
    index = np.clip(np.searchsorted(_IMA_STEPS, d0), 0, 88).astype(np.int32)
    header = np.zeros((nb, 4), dtype=np.uint8)
    header[:, 0] = pred & 0xFF
    header[:, 1] = (pred >> 8) & 0xFF
    header[:, 2] = index
    nibbles_t = np.empty((spb - 1, nb), dtype=np.uint8)
    for k in range(spb - 1):
        step = _IMA_STEPS[index]
        diff = s_t[k + 1] - pred
        sign = diff < 0
        ad = np.abs(diff)
        b4 = ad >= step
        ad = ad - np.where(b4, step, 0)
        b2 = ad >= step >> 1
        ad = ad - np.where(b2, step >> 1, 0)
        b1 = ad >= step >> 2
        nib = (np.where(sign, 8, 0) | np.where(b4, 4, 0)
               | np.where(b2, 2, 0) | np.where(b1, 1, 0)).astype(np.int32)
        flat = index * 16 + nib
        pred = np.clip(pred + _IMA_SIGN[nib] * _IMA_DIFF[flat],
                       -32768, 32767)
        index = _IMA_NEXT[flat]
        nibbles_t[k] = nib
    nibbles = np.ascontiguousarray(nibbles_t.T)
    packed = (nibbles[:, 0::2] | (nibbles[:, 1::2] << 4)).astype(np.uint8)
    return np.concatenate([header, packed], axis=1)


def adpcm_ima_encode(pcm: np.ndarray, block_align: int = 256,
                     channels: int = 1) -> bytes:
    """Interleaved int16 PCM (``channels`` samples per frame) → IMA ADPCM
    payload. Each channel is encoded independently by the vectorized mono
    encoder at the per-channel sub-block size (4-byte header + its share
    of the data), then headers and 4-byte data groups interleave per the
    multi-channel block layout."""
    adpcm_frames_per_block(block_align, channels)       # geometry check
    if channels == 1:
        return _adpcm_encode_mono(pcm, block_align).tobytes()
    if len(pcm) % channels:
        raise ValueError("adpcm channels must be equal length")
    sub = 4 + (block_align - 4 * channels) // channels
    enc = [_adpcm_encode_mono(pcm[c::channels], sub)
           for c in range(channels)]
    n = enc[0].shape[0]
    heads = np.concatenate([e[:, :4] for e in enc], axis=1)
    groups = np.stack([e[:, 4:].reshape(n, -1, 4) for e in enc], axis=2)
    return np.concatenate([heads, groups.reshape(n, -1)], axis=1).tobytes()


# ---------------------------------------------------------------------------
# the remaining per-sample codecs: unsigned 8-bit, signed 24-bit, IEEE float

_PCMU8_LUT = ((np.arange(256, dtype=np.int32) - 128) << 8).astype(np.int16)


def pcm_u8_decode(u: np.ndarray) -> np.ndarray:
    """uint8 excess-128 PCM → int16 (<<8 rescale, exact table lookup)."""
    return _PCMU8_LUT[u]


def pcm_u8_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 excess-128, rounding to the nearest 8-bit code
    (a truncating >>8 would center the quantization noise off zero and
    cost ~6 dB; rounded, the fixture sines measure ~44 dB — 8-bit
    quantization noise, comfortably above the 30 dB gate)."""
    q = np.round(pcm.astype(np.float64) / 256.0).astype(np.int32)
    return np.clip(q + 128, 0, 255).astype(np.uint8)


def pcm_s24_decode(b: np.ndarray) -> np.ndarray:
    """(n, 3) little-endian 24-bit samples → int16 (top 16 bits) — the
    comparison precision of the whole check pipeline (references are
    int16 synth; a 24-bit payload written from a 16-bit source
    round-trips exactly, so SNR reads ∞ on clean clips)."""
    x = (b[:, 0].astype(np.int32)
         | (b[:, 1].astype(np.int32) << 8)
         | (b[:, 2].astype(np.int32) << 16))
    x = (x ^ 0x800000) - 0x800000          # sign-extend int24
    return (x >> 8).astype(np.int16)


def pcm_s24_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → little-endian 3-byte samples (value << 8): the exact
    inverse of :func:`pcm_s24_decode` for 16-bit sources."""
    x = pcm.astype(np.int32) << 8
    out = np.empty((len(pcm), 3), dtype=np.uint8)
    out[:, 0] = x & 0xFF
    out[:, 1] = (x >> 8) & 0xFF
    out[:, 2] = (x >> 16) & 0xFF
    return out


def float_decode(x: np.ndarray) -> np.ndarray:
    """IEEE float samples → int16: ×32768 in the payload's own precision,
    rounded ties-to-even (np.rint) — the exact inverse of
    :func:`float_encode` for int16 sources (int16/32768 is exact even in
    float32's 24-bit mantissa), so clean clips measure SNR ∞. Non-finite
    payload floats (a corrupt file can carry NaN/±inf bit patterns)
    decode deterministically: NaN → 0, ±inf → the int16 rails — never an
    undefined float→int cast."""
    x = np.rint(x * x.dtype.type(32768.0))
    x = np.nan_to_num(x, nan=0.0, posinf=32767.0, neginf=-32768.0)
    return np.clip(x, -32768.0, 32767.0).astype(np.int16)


def float_encode(pcm: np.ndarray, dtype: str) -> np.ndarray:
    """int16 PCM → IEEE float samples in [-1, 1) at the conventional
    /32768 scaling."""
    dt = np.dtype(dtype)
    return pcm.astype(dt) / dt.type(32768.0)


# ---------------------------------------------------------------------------
# the codec table

class CodecSpec(NamedTuple):
    """One codec: its WAVE (tag, bits) key, the numpy dtype of one coded
    sample, and its int16 decode/encode. A per-sample codec maps coded
    samples → int16 and back elementwise; the one block-coded row (IMA
    ADPCM, ``dtype`` None) decodes ``(payload, block_align, channels)``
    and encodes ``(pcm, block_align, channels)``. ``label`` names the
    layout in malformed-payload errors."""
    name: str
    tag: int
    bits: int
    dtype: Optional[np.dtype]
    decode: Callable
    encode: Callable
    label: str

    @property
    def per_sample(self) -> bool:
        return self.dtype is not None


#: every codec the engine parses, decodes and writes, keyed by name
CODECS = {s.name: s for s in (
    CodecSpec("pcm_s16le", 1, 16, np.dtype("<i2"), lambda s: s,
              lambda p: p.astype("<i2"), "pcm16"),
    CodecSpec("ulaw", 7, 8, np.dtype(np.uint8), ulaw_decode, ulaw_encode,
              "g711"),
    CodecSpec("alaw", 6, 8, np.dtype(np.uint8), alaw_decode, alaw_encode,
              "g711"),
    CodecSpec("adpcm_ima", 0x11, 4, None,
              lambda p, ba, ch: adpcm_decode_stacked([p], ba, ch)[0],
              adpcm_ima_encode, "adpcm"),
    CodecSpec("pcm_u8", 1, 8, np.dtype(np.uint8), pcm_u8_decode,
              pcm_u8_encode, "pcm8"),
    CodecSpec("pcm_s24le", 1, 24, np.dtype((np.uint8, 3)), pcm_s24_decode,
              pcm_s24_encode, "pcm24"),
    CodecSpec("pcm_f32le", 3, 32, np.dtype("<f4"), float_decode,
              partial(float_encode, dtype="<f4"), "ieee-float"),
    CodecSpec("pcm_f64le", 3, 64, np.dtype("<f8"), float_decode,
              partial(float_encode, dtype="<f8"), "ieee-double"),
)}
_BY_FORMAT = {(s.tag, s.bits): s for s in CODECS.values()}


class Coded:
    """Zero-copy view of one WAV data chunk, undecoded: the codec spec,
    the payload (one element per coded sample for the per-sample codecs,
    raw bytes for block-coded ADPCM), the channel count, the frame count
    and the container's block_align. ``len()`` is the FRAME count
    (samples per channel — the unit the dur/n_samples checks are defined
    in, keeping 1000·len/sr == dur_ms for every layout); ``nbytes`` is
    the payload size, keeping the fuzz contract's no-amplification
    bound."""

    __slots__ = ("spec", "payload", "channels", "frames", "block_align")

    def __init__(self, spec: CodecSpec, payload: np.ndarray, channels: int,
                 frames: int, block_align: int):
        self.spec = spec
        self.payload = payload
        self.channels = channels
        self.frames = frames
        self.block_align = block_align

    def __len__(self) -> int:
        return self.frames

    @property
    def nbytes(self) -> int:
        return self.payload.nbytes

    def decode(self, start: int = 0, stop: Optional[int] = None
               ) -> np.ndarray:
        """int16 mono PCM of frames ``[start, stop)``, stereo downmixed.
        A per-sample codec decodes only that stretch; ADPCM decodes the
        whole clip (blocks are its unit) and slices — the hot Arrow path
        batches ADPCM clips through :func:`adpcm_decode_stacked`
        instead."""
        stop = self.frames if stop is None else stop
        ch = self.channels
        if not self.spec.per_sample:
            return self.spec.decode(self.payload, self.block_align,
                                    ch)[start:stop]
        pcm = self.spec.decode(self.payload[start * ch:stop * ch])
        return pcm if ch == 1 else _downmix(pcm[0::2], pcm[1::2])


def pcm_view(pcm: np.ndarray) -> Coded:
    """Already-decoded mono int16 PCM as a pcm_s16le view — the SNR
    kernel's input for clips decoded ahead of it (stacked ADPCM)."""
    return Coded(CODECS["pcm_s16le"], pcm, 1, len(pcm), 2)


# ---------------------------------------------------------------------------
# RIFF/WAVE container

_FMT_EXTENSIBLE = 0xFFFE

#: WAVE_FORMAT_EXTENSIBLE SubFormat = {tag:04x}-0000-0010-8000-00AA00389B71:
#: the first two GUID bytes are the little-endian classic format tag, the
#: remaining 14 are this fixed media-type suffix
_EXT_GUID_SUFFIX = bytes.fromhex("000000001000800000AA00389B71")


def parse_wav(raw: bytes) -> Tuple[Coded, int, str]:
    """WAV bytes → (:class:`Coded` ZERO-COPY view of the coded samples,
    sample rate, codec name) without decoding. ``len()`` of the view is
    the decoded frame count in every case (for ADPCM via the fact chunk,
    since blocks are padded).

    Raises ValueError on malformed/truncated input (drives the corrupt-
    payload violations in FIXTURES.md §1).

    The RIFF chunk list is WALKED per spec, not assumed canonical: a
    valid WAV may carry an 18/40-byte fmt chunk (WAVEFORMATEX/EXTENSIBLE)
    or fact/LIST chunks before data — the table's bytes come from
    arbitrary encoders, not just this module's writer — and a buffer
    whose fmt fields are garbage must be rejected, not unpacked from a
    fixed offset."""
    if len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = channels = sr = bits = block_align = fact_samples = None
    payload = None
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos:pos + 4]
        (clen,) = struct.unpack("<I", raw[pos + 4:pos + 8])
        body = raw[pos + 8:pos + 8 + clen]
        if cid == b"fmt " and fmt is None:
            # first fmt chunk only — mirrors the data-chunk guard: a
            # trailing duplicate (or coincidental garbage) `fmt ` chunk
            # after data must not overwrite fmt/sr/bits/block_align and
            # reinterpret an already-captured payload
            if clen < 16 or len(body) < 16:
                raise ValueError("malformed fmt chunk")
            (fmt, channels, sr, _, block_align, bits) = struct.unpack(
                "<HHIIHH", body[:16])
            if fmt == _FMT_EXTENSIBLE:
                # WAVEFORMATEXTENSIBLE: 22-byte extension = cbSize(2) +
                # Samples union(2) + dwChannelMask(4) + SubFormat
                # GUID(16); the GUID's first two bytes are the real
                # little-endian format tag. `bits` stays the base
                # header's wBitsPerSample (the CONTAINER width every
                # layout check below needs): the union field at offset
                # 18 is wValidBitsPerSample only for PCM — for
                # compressed subformats it is wSamplesPerBlock, and for
                # PCM with valid_bits < container the payload is still
                # laid out at container width (low bits zero), so
                # overriding bits from the union would reject valid
                # ADPCM files (505 ≠ 4) or misroute 16-bit containers
                # to the 8-bit decoder
                if clen < 40 or len(body) < 40:
                    raise ValueError("malformed extensible fmt chunk")
                if body[26:40] != _EXT_GUID_SUFFIX:
                    raise ValueError("unknown extensible subformat")
                (fmt,) = struct.unpack("<H", body[24:26])
        elif cid == b"fact" and clen >= 4 and len(body) >= 4:
            # dwSampleLength — required for compressed formats; for the
            # block-padded ADPCM payload it is the only record of where
            # real samples end and final-block padding begins
            (fact_samples,) = struct.unpack("<I", body[:4])
        elif cid == b"data" and payload is None:
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            if len(body) < clen:
                raise ValueError("truncated data chunk")
            payload = body
            # keep walking: a legal RIFF may order chunks fmt, data,
            # fact — stopping here would silently drop a post-data fact
            # chunk and mis-trim ADPCM block padding (false dur/snr
            # violations on a correct externally-encoded file)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None:
        raise ValueError("missing fmt chunk")
    if payload is None:
        raise ValueError("missing data chunk")
    if channels not in (1, 2):
        raise ValueError(f"unsupported channel count {channels}")
    spec = _BY_FORMAT.get((fmt, bits))
    if spec is None:
        # a known tag at a width the table does not list is a malformed
        # payload (e.g. 16-bit G.711 must surface as ONE decode
        # violation, not be read one-sample-per-byte, doubling n_samples
        # and misattributing the defect to dur/snr)
        label = next((s.label for s in CODECS.values() if s.tag == fmt),
                     None)
        if label is None:
            raise ValueError(f"unsupported format tag {fmt}")
        raise ValueError(f"malformed {label} payload")
    dlen = len(payload)
    if spec.per_sample:
        if dlen % spec.dtype.itemsize:
            raise ValueError(f"malformed {spec.label} payload")
        samples = np.frombuffer(payload, dtype=spec.dtype)
        if len(samples) % channels:
            raise ValueError("stereo payload with odd sample count")
        frames = len(samples) // channels
    else:
        # IMA: whole blocks only — a mid-block truncation cannot be
        # decoded and must surface as ONE decode violation
        per_block = adpcm_frames_per_block(block_align, channels)
        if dlen == 0 or dlen % block_align:
            raise ValueError("truncated adpcm payload")
        samples = np.frombuffer(payload, dtype=np.uint8)
        frames = per_block * (dlen // block_align)
        if fact_samples is not None:
            if fact_samples > frames:
                raise ValueError("fact chunk exceeds adpcm capacity")
            frames = fact_samples
    return Coded(spec, samples, channels, frames, block_align), sr, \
        spec.name


def decode_wav(raw: bytes) -> Tuple[np.ndarray, int, str]:
    """WAV bytes → (int16 mono PCM, sample rate, codec name). Delegates
    header and payload validation to :func:`parse_wav` so the
    malformed-input behavior (which drives the corrupt-payload
    violations, FIXTURES.md §1) cannot drift between the parse-only and
    full-decode paths."""
    coded, sr, codec = parse_wav(raw)
    return coded.decode(), sr, codec


def encode_wav(pcm: np.ndarray, sr: int, codec: str, channels: int = 1,
               block_align: int = 256) -> bytes:
    """Interleaved int16 samples (``channels`` per frame) → WAV bytes in
    ``codec``. Per-sample codecs write the canonical 16-byte fmt chunk.
    IMA ADPCM (``block_align`` applies to it alone) writes the full
    WAVEFORMATEX fmt chunk (cbSize=2 + wSamplesPerBlock) and a fact chunk
    carrying the true frame count — the payload is whole blocks, so
    without the fact chunk a decoder cannot distinguish real frames from
    the final block's padding."""
    spec = CODECS.get(codec)
    if spec is None:
        raise ValueError(f"no encoder for codec {codec!r}")
    if spec.per_sample:
        payload = spec.encode(pcm).tobytes()
        align = spec.dtype.itemsize * channels
        fmt = struct.pack("<HHIIHH", spec.tag, channels, sr, sr * align,
                          align, spec.bits)
        fact = b""
    else:
        spb = adpcm_frames_per_block(block_align, channels)
        if max(spb, block_align) > 0xFFFF:
            # the container fields are uint16: an out-of-range knob must
            # fail as the module's documented ValueError, not surface as
            # an unrelated low-level struct.error from the header pack
            raise ValueError(f"block_align {block_align} out of range: "
                             f"{spb} frames per block overflow the "
                             f"16-bit header field")
        payload = spec.encode(pcm, block_align, channels)
        fmt = struct.pack("<HHIIHHHH", spec.tag, channels, sr,
                          (sr * block_align + spb - 1) // spb, block_align,
                          spec.bits, 2, spb)
        fact = struct.pack("<4sII", b"fact", 4, len(pcm) // channels)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + fact
            + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", len(body)) + body


#: codec name → ``(int16 mono samples, sr, **kw) → WAV bytes``
ENCODERS = {name: partial(encode_wav, codec=name) for name in CODECS}


def encode_stereo_wav(pcm: np.ndarray, sr: int, codec: str) -> bytes:
    """Mono int16 samples → dual-mono stereo WAV (the same signal on both
    channels — the fixture convention, FIXTURES.md §1b: the downmix
    decode recovers the mono signal EXACTLY for the per-sample codecs,
    and for ADPCM both channels encode identically, so a stereo clip's
    SNR verdict matches its mono counterpart's)."""
    return encode_wav(np.repeat(pcm, 2), sr, codec, channels=2)


def wrap_extensible(raw: bytes) -> bytes:
    """Rewrap a canonical 16-byte-fmt WAV as WAVE_FORMAT_EXTENSIBLE: the
    classic tag moves into the SubFormat GUID's leading bytes, the fmt
    chunk grows to the 40-byte WAVEFORMATEXTENSIBLE form (cbSize=22,
    wValidBitsPerSample = container bits, standard mono/stereo channel
    masks), and every other chunk passes through verbatim. Modern
    encoders emit EXTENSIBLE even for plain PCM — this is the fixture
    generator for that corpus shape."""
    if raw[:4] != b"RIFF" or raw[8:16] != b"WAVEfmt ":
        raise ValueError("not a canonical fmt-first WAV")
    (clen,) = struct.unpack("<I", raw[16:20])
    if clen != 16:
        raise ValueError("fmt chunk is not the 16-byte canonical form")
    fmt, channels, sr, br, ba, bits = struct.unpack("<HHIIHH", raw[20:36])
    rest = raw[36:]                       # remaining chunks, verbatim
    mask = 0x4 if channels == 1 else 0x3  # FC / FL+FR
    ext = (struct.pack("<HHIIHHHHI", _FMT_EXTENSIBLE, channels, sr, br,
                       ba, bits, 22, bits, mask)
           + struct.pack("<H", fmt) + _EXT_GUID_SUFFIX)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + 40 + len(rest)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 40) + ext + rest)


_PERIOD_CACHE: dict = {}


def _one_period(freq_hz: float, sr: int, amplitude: float) -> np.ndarray:
    """One exact period of the quantized sine. sin(2π f n/sr) repeats
    exactly every L = sr/gcd(f, sr) samples (f·L/sr is an integer), so a
    clip of any duration is np.tile of this — ~40× cheaper than evaluating
    np.sin per sample, and still a pure function of (f, sr, dur)."""
    import math
    key = (freq_hz, sr, amplitude)
    p = _PERIOD_CACHE.get(key)
    if p is None:
        g = math.gcd(int(round(freq_hz)), sr)
        L = sr // g if g else sr
        t = np.arange(L, dtype=np.float64) / sr
        x = amplitude * np.sin(2.0 * np.pi * freq_hz * t)
        p = np.round(x * 32767.0).astype(np.int16)
        _PERIOD_CACHE[key] = p
    return p


#: fixture sine amplitude — shared by synth_wave's default and the fused
#: SNR check's reference period (synth.expected_period), so the two can't
#: silently diverge and fail every clip against the 30 dB threshold
DEFAULT_AMPLITUDE = 0.5


def synth_wave(freq_hz: float, dur_ms: int, sr: int,
               amplitude: float = DEFAULT_AMPLITUDE) -> np.ndarray:
    """Deterministic sine clip as int16 PCM (FIXTURES.md §1 `bytes` spec).
    Integral frequencies take the exact tiled-period fast path."""
    n = int(round(sr * dur_ms / 1000.0))
    if float(freq_hz).is_integer():
        p = _one_period(freq_hz, sr, amplitude)
        reps = n // len(p) + 1
        return np.tile(p, reps)[:n]
    t = np.arange(n, dtype=np.float64) / sr
    x = amplitude * np.sin(2.0 * np.pi * freq_hz * t)
    return np.round(x * 32767.0).astype(np.int16)


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio of decoded vs reference (float domain).

    Computed in float32 with BLAS dot products: int16 inputs are exact in
    float32, and pairwise-summed sdot keeps the relative error ~1e-7 —
    irrelevant against a 30 dB threshold — while halving the memory
    traffic of the float64 form (this is the hottest loop of the decode
    stage; see BENCH/BASELINE.md bandwidth note)."""
    n = min(len(reference), len(decoded))
    if n == 0:
        return float("-inf")
    ref = reference[:n].astype(np.float32)
    noise = ref - decoded[:n].astype(np.float32)
    p_sig = float(np.dot(ref, ref))
    p_noise = float(np.dot(noise, noise))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * float(np.log10(p_sig / p_noise))


_SNR_BLOCK = 1 << 17  # samples per block: f32 temporaries stay ~1.5 MB


def snr_db_vs_period(coded: Coded, codec: str,
                     period: np.ndarray, n_ref: int) -> float:
    """SNR of ``coded.decode()`` against a periodic reference, equivalent
    to ``snr_db(np.tile(period, ...)[:n_ref], coded.decode())`` but FUSED
    and cache-blocked: the decoded clip and the tiled reference are never
    materialized — each ≤128k-frame block is decoded (stereo downmixed),
    cast, and dot-producted while resident in L2. At 32 cores on one
    socket the unfused form is DRAM-bandwidth-bound (~24 bytes/sample of
    temporary traffic vs ~3 here); this is what keeps the decode stage
    scaling with cores (BENCH/BASELINE.md). ``codec`` is the name
    :func:`parse_wav` returned alongside the view; the view's own spec
    drives the decode."""
    n = min(n_ref, len(coded))
    if n == 0:
        return float("-inf")
    if not coded.spec.per_sample:
        # block-coded ADPCM cannot decode a stretch of frames on its
        # own: decode the clip once (clips are ~KBs), then scan its PCM.
        # The Arrow decode UDF batches these clips through the stacked
        # decoder instead (decode.py).
        coded = pcm_view(coded.decode())
    plen = len(period)
    blk = min(_SNR_BLOCK, n)
    reps = (blk + plen) // plen + 1
    buf = np.tile(period, reps)[:blk + plen].astype(np.float32)
    p_sig = p_noise = 0.0
    off = 0
    while off < n:
        m = min(blk, n - off)
        d = coded.decode(off, off + m).astype(np.float32)
        r = buf[off % plen:off % plen + m]
        nz = r - d
        p_sig += float(np.dot(r, r))
        p_noise += float(np.dot(nz, nz))
        off += m
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * float(np.log10(p_sig / p_noise))
