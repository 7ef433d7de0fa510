"""Codec throughput at three segment sizes (no Spark — kernel only).

The driver-suite `payload_roundtrip` number is dominated by Spark
plumbing on sf0.1's tiny 64-point segments; this prints the codec's own
per-point cost at small / production (4096, the `encode_payloads`
segment bound) / large segment sizes, for the BENCH_SCALING codec
claims. Jittered-cadence random values (worst-ish case: near-full-width
XOR sigs) and regular cadence (best case) per size.

The `decode_bodies` legs time both decode bodies on the same jittered
payload at 4-128 points, the range where `decode_segment`'s size
dispatch (`_SCALAR_DECODE_MAX`) picks between them.

Usage: python scripts/bench_codec.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ecov003_l2t_stars_spark.functions.codec import (  # noqa: E402
    _decode_fields_scalar,
    _decode_fields_vectorized,
    decode_segment,
    encode_segment,
)


def leg(n: int, regular: bool, reps: int) -> dict:
    rng = np.random.default_rng(1)
    if regular:
        ts = np.arange(n, dtype=np.int64) * 1_000_000
    else:
        ts = np.cumsum(rng.integers(1_000_000, 1_100_000, n)).astype(
            np.int64
        )
    vals = np.round(rng.normal(50, 10, n), 3)
    payload = encode_segment(ts, vals)  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        payload = encode_segment(ts, vals)
    enc = (time.perf_counter() - t0) / reps
    ts2, v2 = decode_segment(payload)
    assert np.array_equal(ts, ts2) and np.array_equal(vals, v2)
    t0 = time.perf_counter()
    for _ in range(reps):
        decode_segment(payload)
    dec = (time.perf_counter() - t0) / reps
    return {
        "encode_us_per_pt": round(enc / n * 1e6, 3),
        "decode_us_per_pt": round(dec / n * 1e6, 3),
        "bytes_per_pt": round(len(payload) / n, 2),
    }


def decode_leg(n: int, reps: int) -> dict:
    """µs per segment and per point of each decode body at n points."""
    rng = np.random.default_rng(1)
    ts = np.cumsum(rng.integers(1_000_000, 1_100_000, n)).astype(np.int64)
    vals = np.round(rng.normal(50, 10, n), 3)
    payload = encode_segment(ts, vals)
    out = {}
    for name, body in (("scalar", _decode_fields_scalar),
                       ("vectorized", _decode_fields_vectorized)):
        ts2, v2 = body(payload, n)  # warm
        assert np.array_equal(ts, ts2) and np.array_equal(vals, v2)
        best = float("inf")
        for _ in range(5):  # best of 5 rounds: least host noise
            t0 = time.perf_counter()
            for _ in range(reps):
                body(payload, n)
            best = min(best, (time.perf_counter() - t0) / reps)
        out[name] = {
            "us_per_segment": round(best * 1e6, 1),
            "us_per_pt": round(best / n * 1e6, 2),
        }
    return out


def main() -> None:
    out = {}
    for n, reps in ((64, 2000), (4096, 200), (200_000, 5)):
        out[str(n)] = {
            "jitter": leg(n, False, reps),
            "regular": leg(n, True, reps),
        }
    out["decode_bodies"] = {
        str(n): decode_leg(n, 400) for n in (4, 8, 16, 32, 64, 128)
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
