#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Usage: python3 perfbench/gen.py --workload W --seed N --out DIR [--scale full|smoke]

Writes the workload's input tables under DIR as multi-file parquet
(`DIR/<table>.parquet/part-NNNNN.parquet`) and prints one JSON object with
the input's measured properties. The same seed gives the same bytes.
The stored-cell table of `snapshot_full` is built afterwards from these
events by the program itself (graft.perfbench.Cells).
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MS_PER_DAY = 86_400_000
JAN_1_2024 = 1_704_067_200_000
# ExportQueries.T1 / T2: the fixed incremental window [2024-01-08, 2024-01-22)
T1 = 1_704_672_000_000
T2 = 1_705_881_600_000
EVENT_TYPES = np.array(["error", "signup", "purchase", "view", "click"])

# rows per workload at full scale and at smoke scale
SIZES = {
    "snapshot_full": {"full": 40_000, "smoke": 2_000},
    "incremental_latest": {"full": 1_500_000, "smoke": 20_000},
    "curate_dedup": {"full": 3_000, "smoke": 300},
}


def write_parquet(table, path, files):
    """Writes `table` as `files` parquet files in row order."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def events_table(rng, n, start_ms, days, users, zipf_s):
    """Events sorted by time; user ids uniform (zipf_s=None) or Zipf-skewed."""
    ts_us = np.sort(rng.integers(start_ms * 1000, (start_ms + days * MS_PER_DAY) * 1000, n))
    if zipf_s is None:
        uid = rng.integers(0, users, n)
    else:
        w = 1.0 / np.arange(1, users + 1) ** zipf_s
        uid = rng.permutation(users)[rng.choice(users, n, p=w / w.sum())]
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(np.round(rng.random(n) * 200, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return table, ts_us // 1000, uid


def gen_snapshot(rng, n, out):
    table, _, uid = events_table(rng, n, JAN_1_2024, 30, 1_500, None)
    write_parquet(table, os.path.join(out, "events.parquet"), 4)
    return {"rows": n, "keys": int(len(np.unique(uid)))}


def gen_incremental(rng, n, out):
    # ~215 days of history ending after T2: the window holds ~6.5% of it
    start = T1 - 190 * MS_PER_DAY
    table, ms, uid = events_table(rng, n, start, 215, 60_000, 1.05)
    # one file per ~5 days, in time order, as store files are flushed
    write_parquet(table, os.path.join(out, "events.parquet"), 43)
    in_slice = (ms >= T1) & (ms < T2)
    _, per_key = np.unique(uid[in_slice], return_counts=True)
    return {
        "rows": n,
        "keys": int(len(np.unique(uid))),
        "slice_rows": int(in_slice.sum()),
        "slice_share": float(in_slice.mean()),
        "slice_keys": int(len(per_key)),
        "versions_per_key_p50": float(np.median(per_key)),
        "versions_per_key_max": int(per_key.max()),
        "versions_per_key_mean": float(per_key.mean()),
    }


def ndtri(q):
    """Standard normal quantiles (Acklam's rational approximation)."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    q = np.asarray(q, dtype=float)
    out = np.empty_like(q)
    lo, hi = q < 0.02425, q > 1 - 0.02425
    mid = ~(lo | hi)
    r = np.sqrt(-2 * np.log(np.where(lo, q, 1 - q)))
    tail = (((((c[0] * r + c[1]) * r + c[2]) * r + c[3]) * r + c[4]) * r + c[5]) / \
        ((((d[0] * r + d[1]) * r + d[2]) * r + d[3]) * r + 1)
    out[lo] = tail[lo]
    out[hi] = -tail[hi]
    t = q[mid] - 0.5
    u = t * t
    out[mid] = (((((a[0] * u + a[1]) * u + a[2]) * u + a[3]) * u + a[4]) * u + a[5]) * t / \
        (((((b[0] * u + b[1]) * u + b[2]) * u + b[3]) * u + b[4]) * u + 1)
    return out


def vocabulary(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return np.array(sorted(words))


def gen_dedup(rng, n, out):
    vocab = vocabulary(rng, 20_000)
    w = 1.0 / np.arange(1, len(vocab) + 1)
    p = w / w.sum()
    # every seed gets the same length distribution and boilerplate count
    # (drawn at fixed quantiles, then shuffled), so seeds differ in content
    # but not in the amount of work
    q = (np.arange(n) + 0.5) / n
    lengths = rng.permutation(np.clip(np.exp(np.log(60) + 0.6 * ndtri(q)), 3, 400).astype(int))
    templates = [vocab[rng.choice(len(vocab), 80, p=p)] for _ in range(4)]
    boiler = np.zeros(n, dtype=bool)
    boiler[rng.choice(n, round(0.03 * n), replace=False)] = True
    texts = []
    for i in range(n):
        if boiler[i]:
            words = np.concatenate([templates[i % 4], vocab[rng.choice(len(vocab), 2, p=p)]])
        else:
            words = vocab[rng.choice(len(vocab), lengths[i], p=p)]
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    write_parquet(table, os.path.join(out, "documents.parquet"), 8)
    n_words = np.array([t.count(" ") + 1 for t in texts])
    copies = int(np.sum(np.arange(n) % 10 == 0) + np.sum(np.arange(n) % 10 == 5))
    return {
        "rows": n,
        "doc_words_p50": float(np.median(n_words)),
        "doc_words_mean": float(n_words.mean()),
        "boilerplate_share": float(boiler.mean()),
        "duplicate_share": copies / (n + copies),
    }


GENERATORS = {"snapshot_full": gen_snapshot, "incremental_latest": gen_incremental,
              "curate_dedup": gen_dedup}


def generate(workload, seed, out, scale="full"):
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, SIZES[workload][scale], out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="full", choices=["full", "smoke"])
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.scale)))


if __name__ == "__main__":
    main()
