"""Golden digest of the decode path over the ``audio_decode`` oracle corpus.

The ``audio_decode`` oracle pins aggregate counts only. This digest pins,
per clip, exactly what the decode path produces: the container codec,
sample rate, frame count (``len(coded)``), payload size (``nbytes``), the
decoded int16 samples and the float64 bits of the fused SNR. A change to
the codec layer that moves a single sample or the last bit of an SNR
fails here even when every count agrees.

The literal was derived by running :func:`corpus_digest` against the
codec layer as it stood before the codec spec table replaced the
per-codec coded-view classes (``python -c "from tests.test_codec_golden
import corpus_digest; print(corpus_digest())"`` from the repository
root), so it certifies that the table reproduces the class-based
decoders bit for bit."""

import hashlib

import numpy as np

from jio_spark.audio.codecs import decode_wav, parse_wav, snr_db_vs_period
from jio_spark.audio.synth import expected_period, make_row, make_row_mixed

#: the ``audio_decode`` corpus: make_row 0..1999 + make_row_mixed 0..999
N_CLIPS, N_MIXED = 2000, 1000

GOLDEN = "89ed9ed6904c3f5ef685d1a95974bfc5f6328b5cdd20d69f290fc08b309e5d09"


def corpus_digest() -> str:
    h = hashlib.sha256()
    rows = ([make_row(i) for i in range(N_CLIPS)]
            + [make_row_mixed(i) for i in range(N_MIXED)])
    for clip_id, raw, *_ in rows:
        raw = bytes(raw)
        h.update(clip_id.encode())
        try:
            coded, sr, codec = parse_wav(raw)
        except ValueError as e:
            h.update(f"|error:{e}|".encode())
            continue
        pcm, _, _ = decode_wav(raw)
        period, n_ref = expected_period(int(clip_id.rsplit("_", 1)[1]))
        snr = snr_db_vs_period(coded, codec, period, n_ref)
        h.update(f"|{codec}|{sr}|{len(coded)}|{coded.nbytes}|".encode())
        h.update(np.asarray(pcm, dtype="<i2").tobytes())
        h.update(np.float64(snr).tobytes())
    return h.hexdigest()


def test_decode_path_golden_digest():
    assert corpus_digest() == GOLDEN
