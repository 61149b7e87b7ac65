"""Micro-bench: the package's one runtime XXH64 — the vectorized numpy
twin (streaming/xxhash_vec.py) — vs the per-row reference twin
(tests/xxhash_ref.py, the parity oracle) in two cases:

* ``bucket``: the sink's executor bucket hash over N (conv_id string,
  turn_idx long) pairs — a sink write WITHOUT ``with_bucket()`` must
  show no per-row Python on the hot path;
* ``nested_all_ties``: the change feed's equal-LSN tie hash
  (``cdf_source._tie_col``) on an all-ties frame whose payload carries
  a nested ``tool_calls array<struct<name,args>>`` column — the
  mass-redelivery shape that used to take the per-row path.

Each case checks bit-equality on a sample and reports rows/sec +
speedup.

Usage: python BENCH/bucket_hash_bench.py [--rows 1000000]
Writes BENCH/bucket_hash_bench_results.json.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
import sys

sys.path.insert(0, REPO)

import pandas as pd

from picsure_dictionary_etl_spark.streaming.cdf_source import _tie_col
from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
    pmod_buckets,
    spark_xxhash64_vec,
)
from tests.xxhash_ref import spark_xxhash64

TIE_ROWS = 200_000
TOOL_CALLS = pa.list_(pa.struct([("name", pa.string()), ("args", pa.string())]))
TIE_DTYPES = {"id": "string", "text": "string",
              "tool_calls": "array<struct<name:string,args:string>>"}


def nested_all_ties(n: int) -> dict:
    """Tie hash over ``n`` rows where every (id, _lsn) pair occurs
    twice: vectorized ``_tie_col`` (warm best-of-3) vs the per-row
    oracle on a capped sample."""
    rng = random.Random(7)
    calls = [
        None if i % 11 == 0 else [
            {"name": f"tool_{rng.randrange(8)}",
             "args": None if rng.random() < 0.1 else
             '{"q": "' + "x" * rng.randrange(60) + '"}'}
            for _ in range(rng.randrange(4))
        ]
        for i in range(n)
    ]
    df = pd.DataFrame({
        "id": [f"conv-{i // 2}" for i in range(n)],
        "_lsn": pd.array([1] * n, dtype="Int64"),
        "text": [f"turn text {i % 997}" for i in range(n)],
        "tool_calls": pd.Series(
            pd.arrays.ArrowExtensionArray(pa.array(calls, TOOL_CALLS)),
            dtype=pd.ArrowDtype(TOOL_CALLS)),
        "_op": ["U"] * n,
    })
    payload = ["text", "tool_calls"]
    _tie_col(df.iloc[:10_000], ["id"], payload, TIE_DTYPES)  # warm
    vec_s = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hv = _tie_col(df, ["id"], payload, TIE_DTYPES).to_numpy()
        vec_s = min(vec_s, time.perf_counter() - t0)
    m = min(n, 20_000)
    t0 = time.perf_counter()
    hs = [
        spark_xxhash64([df.at[i, "text"], calls[i], "U"],
                       [TIE_DTYPES["text"], TIE_DTYPES["tool_calls"], "string"])
        for i in range(m)
    ]
    scal_s = (time.perf_counter() - t0) * (n / m)
    assert np.array_equal(hv[:m], np.array(hs, dtype=np.int64)), "hash mismatch"
    return {
        "rows": n,
        "vector_sec": round(vec_s, 4),
        "vector_rows_per_s": round(n / vec_s),
        "scalar_sample_rows": m,
        "scalar_sec_extrapolated": round(scal_s, 2),
        "speedup": round(scal_s / vec_s, 1),
        "bit_equal_on_sample": True,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args()
    rng = random.Random(42)
    n = args.rows
    convs = [f"conv-{rng.randrange(n // 20 or 1)}" for _ in range(n)]
    turns = [rng.randrange(0, 500) for _ in range(n)]
    arrays = [pa.array(convs, pa.string()), pa.array(turns, pa.int64())]
    dtypes = ["string", "long"]

    # warm (first call pays numpy/pyarrow import-page + cache faults;
    # the repo-wide rule: report warm best-of, never a cold run 1)
    spark_xxhash64_vec([a.slice(0, 10_000) for a in arrays], dtypes)
    vec_s = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        hv = spark_xxhash64_vec(arrays, dtypes)
        bv = pmod_buckets(hv, args.buckets)
        vec_s = min(vec_s, time.perf_counter() - t0)

    # per-row reference twin on a capped sample (full N at ~100k rows/s
    # would dominate the bench run); extrapolate the rate from the sample
    m = min(n, 200_000)
    t0 = time.perf_counter()
    hs = [spark_xxhash64([convs[i], turns[i]], dtypes) for i in range(m)]
    scal_s_sample = time.perf_counter() - t0
    scal_s = scal_s_sample * (n / m)

    assert np.array_equal(hv[:m], np.array(hs, dtype=np.int64)), "hash mismatch"
    bucket = {
        "rows": n,
        "buckets": args.buckets,
        "vector_sec": round(vec_s, 4),
        "vector_rows_per_s": round(n / vec_s),
        "scalar_sample_rows": m,
        "scalar_sec_extrapolated": round(scal_s, 2),
        "scalar_rows_per_s": round(m / scal_s_sample),
        "speedup": round(scal_s / vec_s, 1),
        "bit_equal_on_sample": True,
        "distinct_buckets": int(len(np.unique(bv))),
    }
    res = {"bucket": bucket, "nested_all_ties": nested_all_ties(TIE_ROWS)}
    with open(os.path.join(HERE, "bucket_hash_bench_results.json"), "w") as f:
        json.dump(res, f, indent=2)
    print(json.dumps(res, indent=2))


if __name__ == "__main__":
    main()
