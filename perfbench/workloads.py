"""The benchmark's workloads and their seeded corpora.

A seed is a row-index offset into the deterministic ``audio/synth.py``
generator: seed ``s`` covers rows ``[s * SEED_STRIDE, s * SEED_STRIDE +
rows)`` (``s`` taken modulo 10^6). Ids therefore stay ``clip_<index>``
and the engine's reference lookup keyed by id still works. Seed 0 is the prefix of
the pinned corpus.

Corpora are written with pyarrow from a few spawned processes, outside any
Spark session, as hive-partitioned parquet (``bucket_id=<b>/``), and cached
per (workload, seed, size, generator source) together with their
expected outputs.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time
from dataclasses import dataclass
from typing import Dict, List, Tuple

SEED_STRIDE = 1_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    kind: str                 # "headline" | "meta"
    why: str

    @property
    def audio(self) -> bool:
        return self.kind != "meta"


WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    Workload("headline_files", 4000, "headline",
             "the paper's headline: full rule set over the pinned codec "
             "mix, payload-local decode in Python workers, drift on, no "
             "output root"),
    Workload("meta_sink_resume", 100_000, "meta",
             "payload-free metadata: rule engine, observe stats, "
             "uniqueness, drift and sink/manifest writes; fresh run, "
             "simulated crash, resume"),
)}

def first_row(seed: int) -> int:
    # ids have 12 digits: seeds wrap at 10^6 so every index stays below
    # 10^12
    return (seed % 10**6) * SEED_STRIDE


def _source_tag(root: str) -> str:
    h = hashlib.sha256()
    for rel in ("jio_spark/audio/synth.py", "jio_spark/audio/codecs.py",
                "perfbench/workloads.py", "perfbench/oracle.py"):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _write_chunk(args) -> Tuple[List[Tuple], Dict]:
    """Worker: generate rows ``[lo, hi)`` and write one parquet file per
    bucket under ``table``; returns the metadata rows."""
    root, table, kind, lo, hi, part = args
    import sys
    sys.path.insert(0, root)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from jio_spark.audio.synth import make_row
    from perfbench.oracle import meta_row

    buckets: Dict[int, List[Tuple]] = {}
    meta = []
    payload_bytes = 0
    for i in range(lo, hi):
        if kind == "meta":
            row = meta_row(i)
            full = (row[0], None) + row[1:]
        else:
            full = make_row(i)
            row = (full[0],) + full[2:]
            payload_bytes += len(full[1])
        meta.append(row)
        buckets.setdefault(full[6], []).append(full)
    fields = [pa.field("clip_id", pa.string())]
    if kind != "meta":
        fields.append(pa.field("bytes", pa.binary()))
    fields += [pa.field("sr_hz", pa.int32()), pa.field("dur_ms", pa.int32()),
               pa.field("codec", pa.string()),
               pa.field("transcript", pa.string())]
    schema = pa.schema(fields)
    for b, rows in buckets.items():
        cols = [[r[0] for r in rows]]
        if kind != "meta":
            cols.append([bytes(r[1]) for r in rows])
        cols += [[r[k] for r in rows] for k in (2, 3, 4, 5)]
        d = os.path.join(table, f"bucket_id={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema), os.path.join(d, f"part-{part:05d}.parquet"))
    return meta, {"payload_bytes": payload_bytes}


def _sample_verdicts(args):
    """Worker: independent decode verdicts of sample rows."""
    root, idx = args
    import sys
    sys.path.insert(0, root)
    from jio_spark.audio.synth import make_row
    from perfbench import oracle
    tools = oracle.load_tools_oracle(root)
    out = {}
    for i in idx:
        out[str(i)] = oracle.independent_verdicts(tools, make_row(i))
    return out


def ensure_corpus(root: str, work: str, wl: Workload, seed: int,
                  procs: int, keep: int = 32) -> Dict:
    """Generate (or reuse) the corpus of ``wl`` at ``seed``; returns its
    descriptor (table path, expectations, generation time)."""
    from perfbench import oracle
    start = first_row(seed)
    tag = f"{wl.name}-s{seed}-n{wl.rows}-{_source_tag(root)}"
    base = os.path.join(work, "corpus")
    cdir = os.path.join(base, tag)
    desc_path = os.path.join(cdir, "corpus.json")
    if os.path.exists(desc_path):
        with open(desc_path) as f:
            desc = json.load(f)
        desc["cached"] = True
        desc["table"] = os.path.join(cdir, "table")
        os.utime(cdir)
        return desc
    if os.path.isdir(cdir):
        shutil.rmtree(cdir)
    t0 = time.time()
    table = os.path.join(cdir, "table")
    os.makedirs(table)
    n_chunks = max(procs, 1)
    step = -(-wl.rows // n_chunks)
    chunks = [(root, table, wl.kind, lo, min(lo + step, start + wl.rows), k)
              for k, lo in enumerate(range(start, start + wl.rows, step))]
    sample = oracle.decode_sample(start, wl.rows) if wl.audio else []
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(n_chunks) as pool:
        parts = pool.map(_write_chunk, chunks)
        verdicts = {}
        if sample:
            per = -(-len(sample) // n_chunks)
            for d in pool.map(_sample_verdicts,
                              [(root, sample[k:k + per])
                               for k in range(0, len(sample), per)]):
                verdicts.update(d)
    rows = [r for meta, _ in parts for r in meta]
    exp = oracle.expectations(root, rows, start, wl.audio)
    predicted = {str(i): oracle.predict_decode(i, rows[i - start])
                 for i in sample}
    desc = {
        "workload": wl.name, "seed": seed, "first_row": start,
        "rows": wl.rows, "table": table, "expected": exp,
        "payload_bytes": sum(p["payload_bytes"] for _, p in parts),
        "sample": {"rows": sample, "independent": verdicts,
                   "predicted": predicted,
                   "meta": {str(i): list(rows[i - start]) for i in sample}},
        "gen_s": time.time() - t0,
    }
    with open(desc_path + ".tmp", "w") as f:
        json.dump(desc, f)
    os.replace(desc_path + ".tmp", desc_path)
    _prune(base, keep)
    desc["cached"] = False
    return desc


def _prune(base: str, keep: int) -> None:
    """Keep the ``keep`` most recently used corpora."""
    dirs = sorted((os.path.join(base, d) for d in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)
