"""Expected outputs of a workload, derived from the generator alone.

Nothing here calls the engine. Rows come from ``jio_spark.audio.synth``'s
deterministic per-index draws; the checks are the independent ones in
``tools/derive_rows_only_oracles.py``:

* the jio rule walk (``derive_rule_summary``) runs over every row and
  gives the rule-chain violation count per (rule_path, rule_name);
* the referential check is a set lookup against the codec dimension;
* decode verdicts of every row are predicted from the generator's anomaly
  draws (corrupt payload, sr/dur mismatch, unknown codec, duplicated id,
  transcript edits), and the independent RIFF/G.711/ADPCM decoder
  (``check_clip``) re-derives them on a fixed sample of rows, which must
  agree with both the prediction and the engine.
"""

from __future__ import annotations

import importlib.util
import os
from collections import Counter
from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np

from jio_spark.audio.synth import (_CODEC_CUM, _CODECS, _SR_CHOICES,
                                   _SR_CUM, _VOCAB, _mix, _row_params, _u,
                                   expected_transcript)

#: codecs in ``runner.default_codec_dim`` (the referential dimension)
DIM_CODECS = ("pcm_s16le", "ulaw", "alaw", "adpcm_ima", "pcm_u8",
              "pcm_s24le", "pcm_f32le", "pcm_f64le")

#: decode check flag -> (rule_path, rule_name) of its violation row
DECODE_KEYS = {
    "decode_ok": ("bytes", "decode"),
    "codec_match": ("codec", "codec_consistency"),
    "sr_match": ("sr_hz", "sr_consistency"),
    "dur_match": ("dur_ms", "dur_consistency"),
    "snr_ok": ("bytes", "snr"),
    "transcript_match": ("transcript", "transcript_equality"),
}
FLAGS = tuple(DECODE_KEYS)
DUR_TOL_MS = 2


def load_tools_oracle(root: str):
    """``tools/derive_rows_only_oracles.py`` of the checkout at ``root``."""
    path = os.path.join(root, "tools", "derive_rows_only_oracles.py")
    spec = importlib.util.spec_from_file_location("_rows_only_oracles",
                                                  path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def meta_row(i: int) -> Tuple:
    """(clip_id, sr_hz, dur_ms, codec, transcript, bucket_id) of row ``i``
    exactly as ``make_row`` writes them, without synthesizing the
    payload."""
    _, _, sr, dur, codec, transcript = _row_params(i, clean=True)
    if _u(i, 14) < 0.002:
        codec = "opus"
    src = i - 7 if (_u(i, 10) < 0.001 and i >= 7) else i
    clip_id = f"clip_{src:012d}"
    decl_sr, decl_dur = sr, dur
    if _u(i, 12) < 0.005:
        decl_sr = int(_SR_CHOICES[(int(np.searchsorted(
            _SR_CUM, _u(i, 1))) + 1) % 4])
    if _u(i, 13) < 0.005:
        decl_dur = dur + 500
    tu = _u(i, 15)
    if tu < 0.005:
        words = transcript.split(" ")
        words[_mix(i, 16) % len(words)] = _VOCAB[_mix(i, 17) % 64]
        transcript = " ".join(words)
    elif tu < 0.015:
        transcript = ""
    elif tu < 0.020:
        transcript = None
    return clip_id, decl_sr, decl_dur, codec, transcript, i % 16


def container_codec(i: int) -> str:
    """The codec the payload bytes of row ``i`` are encoded with."""
    return str(_CODECS[int(np.searchsorted(_CODEC_CUM, _u(i, 4)))])


def predict_decode(i: int, row: Tuple) -> Dict[str, bool]:
    """Decode-check flags of row ``i`` (``row`` = its :func:`meta_row`),
    predicted from the generator's draws."""
    clip_id, decl_sr, decl_dur, codec, transcript, _ = row
    flags = {f: True for f in FLAGS}
    if _u(i, 11) < 0.005:                     # truncated payload
        flags["decode_ok"] = False
        return flags
    _, freq, sr, dur, _, _ = _row_params(i, clean=True)
    src = int(clip_id.rsplit("_", 1)[1])
    _, src_freq, src_sr, _, _, _ = _row_params(src, clean=True)
    flags["codec_match"] = codec == container_codec(i)
    flags["sr_match"] = decl_sr == sr
    flags["dur_match"] = decl_dur == dur
    # a duplicated id points the reference lookup at another clip's
    # signal. Its frequency differs ((i - 7) % 16 != i % 16), but the
    # samples are still identical when freq/sr is (385 Hz at 8 kHz is
    # 770 Hz at 16 kHz)
    flags["snr_ok"] = freq * src_sr == src_freq * sr
    flags["transcript_match"] = (transcript is not None
                                 and transcript == expected_transcript(src))
    return flags


def rule_walk_counts(tools, rows: Iterable[Tuple]) -> Counter:
    """(rule_path, rule_name) -> failed count of the rule chain plus the
    referential check, over metadata rows."""
    walk_rows = []
    ref = Counter()
    for clip_id, sr, dur, codec, transcript, _ in rows:
        walk_rows.append((clip_id, None, sr, dur, codec, transcript))
        if codec is not None and codec not in DIM_CODECS:
            ref[("codec", "referential")] += 1
    order, counts = tools.derive_rule_summary(walk_rows)
    out = Counter()
    for name in order:
        failed = counts[name][2]
        if failed:
            path, rule = name.split("/", 1)
            out[(path, rule)] += failed
    out.update(ref)
    return out


def expectations(root: str, rows: List[Tuple], start: int,
                 audio: bool) -> Dict:
    """Expected per-(rule_path, rule_name) violation counts and the
    uniqueness count for the table of metadata ``rows`` (row k has
    generator index ``start + k``)."""
    tools = load_tools_oracle(root)
    counts = rule_walk_counts(tools, rows)
    if audio:
        for k, row in enumerate(rows):
            for flag, ok in predict_decode(start + k, row).items():
                if not ok:
                    counts[DECODE_KEYS[flag]] += 1
    ids = Counter(r[0] for r in rows if r[0] is not None)
    return {
        "violations": {f"{p}/{n}": c for (p, n), c in sorted(counts.items())},
        "violations_total": sum(counts.values()),
        "uniqueness": sum(1 for c in ids.values() if c > 1),
        "rows": len(rows),
    }


def decode_sample(start: int, n_rows: int,
                  per_kind: int = 4) -> List[int]:
    """Fixed sample of row indices for the independent decode check: the
    first ``per_kind`` rows of each anomaly kind and of each container
    codec, plus the first ``per_kind`` clean rows."""
    want: Dict[str, List[int]] = {}
    for i in range(start, start + n_rows):
        kinds = []
        for name, salt, p in (("corrupt", 11, 0.005), ("sr", 12, 0.005),
                              ("dur", 13, 0.005), ("opus", 14, 0.002),
                              ("text", 15, 0.020)):
            if _u(i, salt) < p:
                kinds.append(name)
        if _u(i, 10) < 0.001 and i >= 7:
            kinds.append("dup")
        if not kinds:
            kinds.append("clean")
        kinds.append("codec:" + container_codec(i))
        for k in kinds:
            lst = want.setdefault(k, [])
            if len(lst) < per_kind:
                lst.append(i)
    return sorted({i for lst in want.values() for i in lst})


def independent_verdicts(tools, raw_row: Tuple) -> Dict[str, bool]:
    """Decode-check flags of a full generated row from the independent
    decoder; ``check_clip`` has no duration check, so it is added here
    from the decoded sample count."""
    r = tools.check_clip(raw_row)
    flags = {f: bool(r[f]) for f in FLAGS if f in r}
    flags["dur_match"] = True
    if r["decode_ok"]:
        pcm, sr, _ = tools.parse_wav_independent(bytes(raw_row[1]))
        decl_dur = raw_row[3]
        flags["dur_match"] = (decl_dur is not None and abs(
            1000.0 * len(pcm) / sr - int(decl_dur)) <= DUR_TOL_MS)
    return flags


def compare_counts(expected: Dict[str, int], got: Dict[str, int]
                   ) -> Optional[str]:
    """None when the two count maps agree on every key, else a
    description of the differences."""
    keys = sorted(set(expected) | set(got))
    diffs = [f"{k}: expected {expected.get(k, 0)} got {got.get(k, 0)}"
             for k in keys if expected.get(k, 0) != got.get(k, 0)]
    return "; ".join(diffs) if diffs else None
