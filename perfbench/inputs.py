"""Seeded input generators, cached on disk by shape and seed.

The program under test only ever sees the parquet files written here.
Each generator is independent of ``tsdownsample_spark`` so a change to the
program cannot change the benchmark's inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# length mix of the token table: the reference's parity-grid lengths plus
# edge lengths, one source holding about half the docs
PARITY_LENGTHS = (10_000, 10_032, 20_321, 23_489)
EDGE_LENGTHS = (1, 2, 3, 99, 100, 101, 2_001, 10_001)
SOURCES = ("web", "books", "code", "wiki")
VOCAB = 50_257
# cache entries kept per input kind; older ones are deleted
KEEP = 3


def _cached(root: str, kind: str, shape: str, seed: int, build) -> tuple[str, dict]:
    """Return (data dir, meta) for one generated input, building it if
    absent; ``build(data_dir, rng)`` writes only parquet files there."""
    kdir = os.path.join(root, "inputs", kind)
    path = os.path.join(kdir, f"{shape}-s{seed}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cache_hit"] = True
        os.utime(path)
        return os.path.join(path, "data"), meta
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    t0 = time.perf_counter()
    meta = build(os.path.join(tmp, "data"), np.random.default_rng(seed))
    meta["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    entries = sorted(
        (e for e in os.scandir(kdir) if e.is_dir() and not e.name.endswith(".tmp")),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)
    meta["cache_hit"] = False
    return os.path.join(path, "data"), meta


def token_table(root: str, docs: int, seed: int) -> tuple[str, dict]:
    """``(doc_id string, tokens array<int32>, n_tok int32, source string)``.

    The first docs take the edge lengths, the rest take the parity lengths
    in equal shares; half the docs sit in one source.  ``warm.parquet`` holds the
    first 64 docs in small row groups, so a warm-up reaches every core.
    """

    def build(d, rng):
        # the same multiset of lengths and sources for every seed, in a
        # seeded order: only the order and the token values vary by seed
        body = docs - len(EDGE_LENGTHS)
        n = np.concatenate([
            EDGE_LENGTHS,
            rng.permutation(np.resize(PARITY_LENGTHS, body)),
        ]).astype(np.int64)
        src_idx = rng.permutation(np.resize((0, 1, 0, 2, 0, 3), docs))
        offsets = np.zeros(docs + 1, dtype=np.int64)
        np.cumsum(n, out=offsets[1:])
        flat = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
        sources = np.asarray(SOURCES)[src_idx]
        tbl = pa.table(
            {
                "doc_id": pa.array([f"{s}-{i:08d}" for i, s in enumerate(sources)]),
                "tokens": pa.ListArray.from_arrays(
                    pa.array(offsets.astype(np.int32)), pa.array(flat)
                ),
                "n_tok": pa.array(n.astype(np.int32)),
                "source": pa.array(sources),
            }
        )
        pq.write_table(
            tbl, os.path.join(d, "tokens.parquet"), row_group_size=max(1, docs // 16)
        )
        pq.write_table(tbl.slice(0, 64), os.path.join(d, "warm.parquet"), row_group_size=4)
        return {"docs": docs, "tokens": int(offsets[-1])}

    return _cached(root, "tokens", f"d{docs}", seed, build)


def series_table(
    root: str, series: int, points: int, seed: int, parts: int = 1
) -> tuple[str, dict]:
    """Long-form ``(series_key long, ts timestamp[us], value double)``.

    15 s base cadence with < 10 s jitter (strictly increasing per series),
    and three dropped runs of 20-200 points per series (the gaps gap-fill
    re-materializes).  ``parts`` splits the series into that many files,
    ``part-<i>.parquet``, each holding whole series.
    """

    def build(d, rng):
        keys, tss, vals = [], [], []
        base = 1_700_000_000_000_000
        for k in range(series):
            keep = np.ones(points, dtype=bool)
            for _ in range(3):
                start = int(rng.integers(0, points))
                keep[start : start + int(rng.integers(20, 200))] = False
            keep[0] = True
            ts = (
                base
                + np.arange(points, dtype=np.int64) * 15_000_000
                + rng.integers(0, 10_000_000, points)
            )[keep]
            v = np.round(np.cumsum(rng.standard_normal(points)), 3)[keep]
            keys.append(np.full(ts.size, k, dtype=np.int64))
            tss.append(ts)
            vals.append(v)
        rows = 0
        for i, sl in enumerate(np.array_split(np.arange(series), parts)):
            key = np.concatenate([keys[j] for j in sl])
            tbl = pa.table(
                {
                    "series_key": pa.array(key),
                    "ts": pa.array(
                        np.concatenate([tss[j] for j in sl]), type=pa.timestamp("us")
                    ),
                    "value": pa.array(np.concatenate([vals[j] for j in sl])),
                }
            )
            rows += tbl.num_rows
            pq.write_table(
                tbl,
                os.path.join(d, f"part-{i}.parquet"),
                row_group_size=max(1, tbl.num_rows // 16),
            )
        return {"series": series, "points": points, "rows": rows, "parts": parts}

    return _cached(root, "series", f"k{series}-p{points}-f{parts}", seed, build)


def events_table(root: str, rows: int, seed: int) -> tuple[str, dict]:
    """The contract's ``events`` table, schema for schema:
    ``(event_id long, ts timestamp[us], user_id long, event_type string,
    value double, props string)`` -- ids in time order, distinct timestamps
    over three days from 2024-01-01, five event types."""

    def build(d, rng):
        span = 3 * 86_400 * 1_000_000
        ts = 1_704_067_200_000_000 + np.sort(
            rng.choice(span, size=rows, replace=False)
        )
        types = np.asarray(["click", "view", "purchase", "signup", "error"])
        tbl = pa.table(
            {
                "event_id": pa.array(np.arange(rows, dtype=np.int64)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(1, rows // 67), rows)),
                "event_type": pa.array(types[rng.integers(0, 5, rows)]),
                "value": pa.array(
                    np.maximum(0.01, np.round(rng.exponential(50.0, rows), 2))
                ),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
            }
        )
        pq.write_table(tbl, os.path.join(d, "events.parquet"))
        return {"rows": rows}

    return _cached(root, "events", f"r{rows}", seed, build)
