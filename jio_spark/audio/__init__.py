"""Audio-specific batch rules (no analog in the reference — engine-only,
SURVEY.md §2.3 last row): stdlib/numpy codecs, a deterministic synthetic
clip generator (FIXTURES.md §1), and the Arrow-batched decode-and-check
rule with explicit codec/duration salting."""

from .codecs import decode_wav, encode_wav, synth_wave
from .synth import clips_frame, expected_signal, expected_transcript
from .decode import decode_check, salted_repartition

__all__ = [
    "decode_wav", "encode_wav",
    "synth_wave", "clips_frame", "expected_signal", "expected_transcript",
    "decode_check", "salted_repartition",
]
