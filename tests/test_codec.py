"""Codec round-trip property tests (encode∘decode = id, SURVEY §5.2)."""

from __future__ import annotations

from functools import partial

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ecov003_l2t_stars_spark.functions.codec import (
    _QNAN,
    _SCALAR_DECODE_MAX,
    _decode_fields_scalar,
    _decode_fields_vectorized,
    _decode_header,
    decode_segment,
    encode_segment,
)


def _roundtrip(ts, vals):
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    payload = encode_segment(ts, vals)
    ts2, vals2 = decode_segment(payload)
    assert np.array_equal(ts, ts2)
    # NaNs canonicalize; everything else is bit-exact
    b1 = vals.view(np.uint64).copy()
    b1[np.isnan(vals)] = np.uint64(_QNAN)
    assert np.array_equal(b1, vals2.view(np.uint64))
    return payload


def test_empty():
    p = encode_segment(np.array([], dtype=np.int64), np.array([]))
    ts, vals = decode_segment(p)
    assert ts.size == 0 and vals.size == 0


def test_single_point():
    _roundtrip([1735689600_000000], [3.14])


def test_regular_cadence_compresses():
    n = 1000
    ts = 1735689600_000000 + np.arange(n, dtype=np.int64) * 60_000_000
    vals = np.full(n, 42.0)
    p = _roundtrip(ts, vals)
    # constant cadence + constant value → pure control bits: 3 (ts
    # class code) + 2 (value code) per point in the section-wise
    # layout, plus fixed header/anchor sections and per-section padding
    assert len(p) < 12 + 8 * 6 + (5 * n) // 8 + 8


def test_nan_runs_and_specials():
    vals = [1.0, np.nan, np.nan, -0.0, np.inf, -np.inf, 5e-324, 1.7e308, np.nan]
    ts = np.cumsum(np.array([0, 1, 60, 60, 61, 59, 1000000, 1, 2], dtype=np.int64))
    _roundtrip(ts, vals)


def test_negative_and_unsorted_deltas():
    ts = np.array([100, 50, 200, 199, -5, 0], dtype=np.int64)  # codec is order-agnostic
    vals = np.array([1.0, 2.0, 2.0, 2.0000001, -3.5, 0.0])
    _roundtrip(ts, vals)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        min_size=0,
        max_size=80,
    )
)
def test_property_roundtrip(pairs):
    if pairs:
        ts, vals = zip(*pairs)
    else:
        ts, vals = [], []
    _roundtrip(list(ts), list(vals))


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_property_realistic_series(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 300))
    ts = np.cumsum(rng.integers(0, 10**7, size=n)).astype(np.int64)
    vals = rng.normal(size=n)
    vals[rng.random(n) < 0.2] = np.nan
    _roundtrip(ts, vals)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**60) + 1, max_value=2**60 - 1),
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        min_size=3,
        max_size=120,
    )
)
def test_vectorized_encoder_byte_parity(pairs):
    """The vectorized fast path emits EXACTLY the scalar path's bytes
    (idempotent-write + CRC semantics depend on byte determinism)."""
    from ecov003_l2t_stars_spark.functions.codec import (
        _encode_fields_scalar,
        _encode_fields_vectorized,
    )

    ts, vals = zip(*pairs)
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    assert _encode_fields_vectorized(ts, vals) == _encode_fields_scalar(
        ts, vals
    )


def test_escape_class_and_guard_fallback():
    """Timestamps beyond the 2^60 guard take the scalar path (Python-int
    arithmetic); dods beyond 2^36 use the 5+66-bit escape class on both
    paths — round-trips and byte-parity hold in each regime."""
    from ecov003_l2t_stars_spark.functions.codec import (
        _encode_fields_scalar,
        _encode_fields_vectorized,
    )

    # escape-class dods inside the guard
    ts = np.array([0, 1, 2**45, 2**45 + 1, 2**59], dtype=np.int64)
    vals = np.array([1.0, 2.0, 2.0, np.nan, -7.25])
    assert _encode_fields_vectorized(ts, vals) == _encode_fields_scalar(
        ts, vals
    )
    _roundtrip(ts, vals)
    # beyond the guard: encode_segment must still round-trip (scalar)
    ts2 = np.array([-(2**62), 2**62, -(2**61), 2**62 - 1], dtype=np.int64)
    _roundtrip(ts2, np.array([0.0, 1.0, 1.0, 2.0]))


def test_int64_min_routes_to_scalar_path():
    """np.abs(int64-min) wraps to int64-min — a wrap-free range guard
    must still route such inputs to the Python-int scalar encoder, and
    the round-trip must hold (the vectorized path would silently wrap
    np.diff/zigzag here)."""
    ts = np.array([-(2**63), -(2**63) + 7, -(2**63) + 9, 0], dtype=np.int64)
    vals = np.array([1.0, 2.0, 2.0, 3.5])
    _roundtrip(ts, vals)


def _decode_with(body, payload):
    """decode_segment forced onto one body (the header checks are
    shared, so they run here exactly as in the dispatch)."""
    n = _decode_header(payload)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    return body(payload, n)


_SCALAR = partial(_decode_with, _decode_fields_scalar)
_VECTORIZED = partial(_decode_with, _decode_fields_vectorized)
# the public entry point (header check, then dispatch by size) and
# each body forced
_DECODERS = (decode_segment, _SCALAR, _VECTORIZED)


def _outcome(decode, payload):
    """(ts bytes, value bits bytes) or ("ValueError", message)."""
    try:
        ts, vals = decode(payload)
    except ValueError as e:
        return ("ValueError", str(e))
    return (ts.tobytes(), vals.view(np.uint64).tobytes())


def test_truncated_payload_raises():
    """Slice-based bit reads return zero bits past the buffer end — the
    decoder must detect truncation (ValueError), not emit garbage. Run
    through decode_segment and against both decode bodies, on segments
    on either side of the dispatch threshold."""
    import struct as _struct

    for n in (64, 2 * _SCALAR_DECODE_MAX):
        ts = np.arange(0, n * 1_000_000, 1_000_000, dtype=np.int64)
        vals = np.linspace(0.0, 6.3, ts.size)
        payload = encode_segment(ts, vals)
        # corrupt header claiming a huge n must be rejected before any
        # O(n) allocation happens
        magic = _struct.unpack(">I", payload[:4])[0]
        bogus = _struct.pack(">IQ", magic, 10**12) + payload[12:]
        for decode in _DECODERS:
            for bad in (payload[: len(payload) - 3], payload[:8], bogus):
                with pytest.raises(ValueError, match="truncated"):
                    decode(bad)


def _ctrl_offsets(n):
    """Byte offsets of the dod control section and of the value control
    section of an n-point (n > 2) payload whose dods are all 0."""
    dod_ctrl = 12 + 8 + 9
    v_ctrl = dod_ctrl + ((3 * (n - 2) + 7) >> 3) + 8
    return dod_ctrl, v_ctrl


def test_corrupt_control_codes_raise():
    """Each structural corruption raises its own ValueError through
    decode_segment and on both bodies: dod class code 6/7, value
    control code 1, a window reuse before any window, and a window
    wider than 64 bits."""
    n = 6
    ts = np.arange(n, dtype=np.int64) * 1_000_000
    vals = np.array([1.0, 2.0, 2.0, 3.0, 3.5, 3.5])
    p = encode_segment(ts, vals)
    dod_ctrl, v_ctrl = _ctrl_offsets(n)
    meta = v_ctrl + ((2 * (n - 1) + 7) >> 3)
    # value codes of vals: 11 (new window) 00 11 10 00
    assert p[v_ctrl] >> 6 == 0b11

    def patched(pos, keep_mask, bits):
        bad = bytearray(p)
        bad[pos] = (bad[pos] & keep_mask) | bits
        return bytes(bad)

    cases = [
        # first dod code -> 7
        (patched(dod_ctrl, 0b00011111, 0b111 << 5), "invalid dod class code"),
        (patched(v_ctrl, 0b00111111, 0b01 << 6),
         "invalid value control code"),
        # first value code -> 10: reuses a window never set
        (patched(v_ctrl, 0b00111111, 0b10 << 6),
         "window reuse before any window"),
        # first window meta: lead 63, len >= 4
        (patched(meta, 0, 0xFF), "window exceeds 64 bits"),
    ]
    for decode in _DECODERS:
        for bad, msg in cases:
            with pytest.raises(ValueError, match=msg):
                decode(bad)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                st.integers(min_value=-(2**40), max_value=2**40),
            ),
            st.one_of(
                st.floats(allow_nan=True, allow_infinity=True, width=64),
                st.sampled_from(
                    [float("nan"), float("inf"), float("-inf"), 0.0, -0.0]
                ),
            ),
        ),
        min_size=0,
        max_size=40,
    ),
    st.booleans(),
)
def test_decode_bodies_bit_equal(pairs, sort_ts):
    """Scalar and vectorized decode return bit-equal (ts, values) for
    every payload the encoder emits: NaNs, ±inf, escape-class dods
    (arbitrary int64 jumps) and n = 0..3 included."""
    ts = [t for t, _ in pairs]
    ts = np.asarray(sorted(ts) if sort_ts else ts, dtype=np.int64)
    vals = np.asarray([v for _, v in pairs], dtype=np.float64)
    payload = encode_segment(ts, vals)
    a = _outcome(_SCALAR, payload)
    assert a == _outcome(_VECTORIZED, payload)
    assert np.array_equal(np.frombuffer(a[0], dtype=np.int64), ts)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=1, max_value=60),
    st.lists(
        st.tuples(st.integers(min_value=0), st.integers(0, 7)),
        min_size=1,
        max_size=4,
    ),
    st.one_of(st.none(), st.integers(min_value=0)),
)
def test_decode_bodies_agree_on_corrupt_payloads(seed, n, flips, cut):
    """Random byte flips (and truncations) of a valid payload either
    raise the same ValueError through decode_segment and on both bodies,
    or decode identically on all three."""
    rng = np.random.default_rng(seed)
    ts = np.cumsum(rng.integers(-(2**38), 2**38, n)).astype(np.int64)
    vals = rng.choice([np.nan, np.inf, -np.inf, 0.0, 1.5, 2.0], n)
    vals = np.where(rng.random(n) < 0.5, rng.normal(0, 1e6, n), vals)
    p = bytearray(encode_segment(ts, vals))
    for pos, bit in flips:
        p[12 + pos % (len(p) - 12)] ^= 1 << bit
    if cut is not None:
        p = p[: 12 + cut % (len(p) - 11)]
    payload = bytes(p)
    a = _outcome(decode_segment, payload)
    assert a == _outcome(_SCALAR, payload) == _outcome(_VECTORIZED, payload)


def test_decode_dispatch_by_size(monkeypatch):
    """decode_segment takes the scalar body up to the size threshold and
    the vectorized body above it."""
    from ecov003_l2t_stars_spark.functions import codec

    taken = []
    for name in ("_decode_fields_scalar", "_decode_fields_vectorized"):
        real = getattr(codec, name)
        monkeypatch.setattr(
            codec, name,
            lambda p, n, real=real, name=name: taken.append(name)
            or real(p, n),
        )
    for n in (codec._SCALAR_DECODE_MAX, codec._SCALAR_DECODE_MAX + 1):
        _roundtrip(np.arange(n) * 60_000_000, np.arange(n) * 0.5)
    assert taken == ["_decode_fields_scalar", "_decode_fields_vectorized"]
