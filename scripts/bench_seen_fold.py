#!/usr/bin/env python
"""Measure the seen-set prefilter fold + broadcast costs at 1e8 keys and
extrapolate to the 10^10-key north star.

Two driver-side costs bound a flush:
1. the FOLD — hashing the flushed keys into the dense Bloom filter
   (``_fold_arrays_into_bloom``), linear in flushed keys;
2. the RE-BROADCAST — any fold invalidates the filter's broadcast, so the
   next streamed check re-ships the whole filter to every worker.

This script measures both at 1e8 preloaded keys, then a steady-state
2M-key flush (the bench gate's generation size), and prints one JSON line
with the measured numbers plus the linear 1e10 extrapolation. Keys are
synthesized with a deterministic xxhash-like mix (the fold only sees
(bucket, key) int arrays — where they came from is irrelevant to its
cost).

Usage: python scripts/bench_seen_fold.py [--keys 100000000]
       [--flush-keys 2000000] [--spark]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from npm_search_spark.seen import DenseBloom, SeenSet  # noqa: E402


def synth_keys(n: int, seed: int, n_buckets: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic 64-bit keys + their buckets (splitmix64 mix — uniform,
    no RNG state, same arithmetic family as the engine's xxhash64 keys)."""
    x = np.arange(n, dtype=np.uint64) + np.uint64(
        (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    keys = x.view(np.int64)
    buckets = (x % np.uint64(n_buckets)).astype(np.int64)
    return buckets, keys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=100_000_000)
    ap.add_argument("--flush-keys", type=int, default=2_000_000)
    ap.add_argument("--out-root", default=".tmp/seen_fold_bench")
    ap.add_argument("--spark", action="store_true",
                    help="also time a real Spark broadcast of the filter")
    args = ap.parse_args()

    # SeenSet's schema parse needs an active session even for the pure
    # driver-side fold measurement
    from npm_search_spark.session import get_spark

    spark = get_spark("seen-fold-bench", cores=8)

    n_buckets = 256
    seen = SeenSet(
        os.path.join(args.out_root, "seen"),
        expected_keys_per_bucket=max(args.keys // n_buckets, 1000),
    )
    filter_bytes = DenseBloom(seen.m, seen.k, seen.n_buckets).bits.nbytes

    # -- 1. bulk fold: 1e8 keys into an empty filter (bootstrap-scale) -----
    bks, kys = synth_keys(args.keys, seed=1, n_buckets=n_buckets)
    t0 = time.time()
    seen._fold_arrays_into_bloom(bks, kys)
    bulk_fold_s = time.time() - t0

    # -- 2. steady-state flush fold: 2M keys into the loaded filter --------
    fb, fk = synth_keys(args.flush_keys, seed=2, n_buckets=n_buckets)
    t0 = time.time()
    seen._fold_arrays_into_bloom(fb, fk)
    flush_fold_s = time.time() - t0

    # -- 3. re-broadcast payload: the whole filter -------------------------
    import pickle

    t0 = time.time()
    whole_pickle = len(pickle.dumps(seen._bloom, protocol=5))
    whole_ser_s = time.time() - t0

    spark_timings = {}
    if args.spark:
        t0 = time.time()
        bc = spark.sparkContext.broadcast(seen._bloom)
        spark_timings["dense_broadcast_s"] = round(time.time() - t0, 3)
        bc.unpersist()

    scale = 1e10 / args.keys
    out = {
        "n_keys": args.keys,
        "filter_bytes": filter_bytes,
        "bulk_fold_s": round(bulk_fold_s, 3),
        "bulk_fold_keys_per_s": round(args.keys / bulk_fold_s, 1),
        "flush_keys": args.flush_keys,
        "flush_fold_s": round(flush_fold_s, 3),
        "whole_filter_pickle_bytes": whole_pickle,
        "whole_filter_pickle_s": round(whole_ser_s, 3),
        "extrapolation_1e10": {
            # the fold is linear in FLUSHED keys, so the steady-state cost
            # at 1e10 total keys is the same per-flush fold (flush size
            # doesn't grow with the table); only the one-time bootstrap
            # fold scales with total keys
            "bootstrap_fold_s": round(bulk_fold_s * scale, 1),
            "per_flush_fold_s": round(flush_fold_s, 3),
            # every filter version is shipped whole to every worker
            "filter_bytes": int(filter_bytes * scale),
        },
        "spark": spark_timings,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
