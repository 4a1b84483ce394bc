"""Seeded inputs of the stream_state workload.

- docs/NNN.parquet: the documents table cut into contiguous doc_id ranges at
  seeded points, one file per trigger. Every row gets the same `ts`, so the
  watermark never evicts dedup state and never moves after the first
  batch (no trailing no-data batch empties the truncate-reload mirror).
- state_build/, state_restart/: STATE_KEYS distinct keys plus a seeded share
  of repeats, in seeded order, cut into build and restart files.
- manifest.json: the row and key counts the checks expect.

File modification times follow replay order, which is the order Spark's
file source reads them in.
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_FILES = 3
STATE_KEYS = 20_000
STATE_BUILD_FILES = 2
STATE_RESTART_FILES = 1
EPOCH_S = 1_700_000_000


def _ts(seconds):
    return pa.array(np.asarray(seconds, dtype="int64") * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def _write(table, path, mtime):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def make(data_dir, out_dir, seed):
    rng = np.random.default_rng(seed)
    mtime = int(time.time()) - 3600
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    docs = docs.sort_by("doc_id")
    n = docs.num_rows
    # each file holds at least 10% of the rows; the rest is split at random
    share = 0.1 + (1 - 0.1 * DOC_FILES) * rng.dirichlet(np.ones(DOC_FILES))
    bounds = np.concatenate([[0], np.round(np.cumsum(share) * n).astype(int)])
    bounds[-1] = n
    parts = []
    for i in range(DOC_FILES):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        part = docs.slice(lo, hi - lo)
        part = part.append_column("ts", _ts(np.full(hi - lo, EPOCH_S)))
        parts.append(part)
        mtime += 1
        _write(part, os.path.join(out_dir, "docs", f"{i:03d}.parquet"), mtime)

    dup_share = float(rng.uniform(0.1, 0.3))
    keys = np.arange(STATE_KEYS, dtype="int64")
    repeats = rng.choice(keys, size=int(dup_share * STATE_KEYS))
    stream = rng.permutation(np.concatenate([keys, repeats]))
    chunks = np.array_split(stream, STATE_BUILD_FILES + STATE_RESTART_FILES)
    for i, chunk in enumerate(chunks):
        kind = "build" if i < STATE_BUILD_FILES else "restart"
        table = pa.table({"k": chunk, "ts": _ts(EPOCH_S + chunk % 3600)})
        mtime += 1
        _write(table, os.path.join(out_dir, f"state_{kind}", f"{i:03d}.parquet"),
               mtime)
    build_rows = sum(len(c) for c in chunks[:STATE_BUILD_FILES])
    manifest = {
        "seed": seed,
        "docs_rows": n,
        "doc_file_rows": [p.num_rows for p in parts],
        "state_keys": STATE_KEYS,
        "state_dup_share": dup_share,
        "state_build_rows": build_rows,
        "state_restart_rows": len(stream) - build_rows,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
