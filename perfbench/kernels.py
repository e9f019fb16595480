"""Single-core decode kernel arm, over in-memory payloads.

Two measurements, both in this one process with no Spark:

* the per-clip split of the decode UDF's hot loop over headline clips
  (``make_row`` rows of the seed): Arrow->pandas ``tolist()`` of the
  ``bytes`` column, ``parse_wav``, ``expected_period`` and
  ``snr_db_vs_period``, in microseconds per clip;
* per-clip kernel throughput of every codec in
  ``runner.default_codec_dim``, mono and dual-mono stereo: ``parse_wav``
  then ``snr_db_vs_period`` (which decodes), in decoded Msamples/s.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict

from jio_spark.audio.codecs import (ENCODERS, encode_stereo_wav, parse_wav,
                                    snr_db_vs_period, synth_wave)
from jio_spark.audio.synth import _row_params, expected_period, make_row

from perfbench.oracle import DIM_CODECS


def _best_of(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def split_us(first_row: int, n_clips: int = 300, reps: int = 3
             ) -> Dict[str, float]:
    import pyarrow as pa
    rows = [make_row(i) for i in range(first_row, first_row + n_clips)]
    tbl = pa.table({"bytes": pa.array([bytes(r[1]) for r in rows],
                                      pa.binary())})
    raws = tbl.to_pandas()["bytes"].tolist()
    idx = [int(r[0].rsplit("_", 1)[1]) for r in rows]
    parsed = []
    for raw in raws:
        try:
            parsed.append(parse_wav(bytes(raw)))
        except ValueError:
            parsed.append(None)
    periods = [expected_period(i) for i in idx]

    def parse_all():
        for raw in raws:
            try:
                parse_wav(bytes(raw))
            except ValueError:
                pass

    def snr_all():
        for p, (period, n_ref) in zip(parsed, periods):
            if p is not None:
                snr_db_vs_period(p[0], p[2], period, n_ref)

    per = 1e6 / n_clips
    return {
        "tolist": _best_of(lambda: tbl.to_pandas()["bytes"].tolist(),
                           reps) * per,
        "parse": _best_of(parse_all, reps) * per,
        "period": _best_of(lambda: [expected_period(i) for i in idx],
                           reps) * per,
        "snr": _best_of(snr_all, reps) * per,
    }


def codec_msamples_per_s(first_row: int, n_clips: int = 12, reps: int = 3
                         ) -> Dict[str, float]:
    """Msamples/s per codec of parse + decode + SNR over ``n_clips`` mono
    and ``n_clips`` stereo payloads built from the seed's signal
    parameters."""
    out = {}
    for codec in DIM_CODECS:
        clips = []
        for k in range(2 * n_clips):
            i = first_row + k
            _, freq, sr, dur, _, _ = _row_params(i, clean=True)
            pcm = synth_wave(freq, dur, sr)
            raw = (encode_stereo_wav(pcm, sr, codec) if k % 2
                   else ENCODERS[codec](pcm, sr))
            clips.append((raw, expected_period(i, clean=True)))
        n = sum(len(parse_wav(raw)[0]) for raw, _ in clips)

        def kernel():
            for raw, (period, n_ref) in clips:
                c, _, name = parse_wav(raw)
                snr_db_vs_period(c, name, period, n_ref)
        out[codec] = n / _best_of(kernel, reps) / 1e6
    return out


def kernel_metrics(first_row: int) -> Dict[str, float]:
    m = {f"audio.kernel_us.{k}": v for k, v in split_us(first_row).items()}
    for codec, v in codec_msamples_per_s(first_row).items():
        m[f"audio.kernel_msamples_per_s.{codec}"] = v
    return m


if __name__ == "__main__":
    import json
    import sys
    print(json.dumps(kernel_metrics(int(sys.argv[1]) if len(sys.argv) > 1
                                    else 0), indent=1))
