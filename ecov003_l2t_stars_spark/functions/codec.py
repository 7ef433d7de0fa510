"""Gorilla-style segment codec: delta-of-delta timestamps + XOR floats.

Engine-new component (SURVEY §2.10: the reference persists float32
GeoTIFF layers with external compression; a 10^12-turn tier store needs
in-payload compression). Implements the scheme from Pelkonen et al.,
"Gorilla: A Fast, Scalable, In-Memory Time Series Database" (VLDB 2015):
delta-of-delta timestamp classes and XOR float windows, with one
engineering departure — a SECTION-WISE layout instead of the paper's
single interleaved bit stream:

    header  | t0 | zz(first_delta) | ts controls | ts payload
            | v0 | value controls  | window meta | value payload

Every section is byte-aligned and fixed-width EXCEPT the two payload
sections, whose field widths are fully determined by the control
sections that precede them. That makes both directions vectorizable:
controls and window metadata are fixed-width bit matrices
(``np.packbits``/reshape), payload fields are stored GROUPED BY WIDTH
CLASS (ascending width, stable row order within a class) so each group
is itself a fixed-width bit matrix, timestamps are a modular-int64
``cumsum`` (bit-exact
with per-step int64 wrap, since the true instants fit int64), and
values are one ``np.bitwise_xor.accumulate``. The interleaved layout
forced µs-per-point Python loops (each field's position depended on
every previous field's decoded content); section-wise costs ≲ 2 extra
bits/point of padding and control-code widening (3-bit dod class codes
instead of 1–5-bit unary prefixes) and decodes ~10× faster.

Per point: timestamps ``0 | 1..4 (14/20/28/36-bit zz dod) | 5 (66-bit
escape)``; values ``0`` = identical, ``2`` = meaningful bits fit the
previous leading/length window, ``3`` = new 6-bit lead + 6-bit len-1
window (the paper's ``0 / 10 / 11`` controls, fixed-width). NaNs are
canonicalized to 0x7ff8000000000000 before encoding so round-trips are
bit-stable (SURVEY §7.2).

Each direction has two bodies behind one size dispatch: a Python-int
scalar body for small segments, where the NumPy body's ~40 calls of
fixed cost per segment dominate, and the NumPy body for large ones. The encoders are byte-parity-tested against each other,
the decoders bit-parity-tested, including which corrupt inputs raise.
Fine-tier segments average ~16 points, so both scalar bodies are the
common case in the Arrow kernels. The codec is invoked only inside
Arrow-batched UDFs at segment granularity, never per Spark row.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = 0x47524C42  # "GRLB" — section-wise layout (v2)
_QNAN = 0x7FF8000000000000
_M64 = 0xFFFFFFFFFFFFFFFF

# delta-of-delta class payload widths; class code = index + 1 in the
# 3-bit control section (code 0 = dod == 0, code 5 = 66-bit escape)
_DOD_WIDTHS = (14, 20, 28, 36, 66)
_DOD_THRESH = np.array([1 << 14, 1 << 20, 1 << 28, 1 << 36], dtype=np.int64)
_DOD_W_ARR = np.array(_DOD_WIDTHS, dtype=np.int64)


class _BitWriter:
    """MSB-first bit appender that flushes completed bytes eagerly;
    ``bytes()`` pads the tail to a byte boundary. Used by the scalar
    reference encoder (one writer per SECTION, so padding matches the
    vectorized ``np.packbits`` output exactly)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        total = self.nbits + nbits
        rem = total & 7
        nbytes = total >> 3
        if nbytes:
            self.out += (acc >> rem).to_bytes(nbytes, "big")
            acc &= (1 << rem) - 1
        self.acc = acc
        self.nbits = rem

    def bytes(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            return bytes(self.out) + bytes(((self.acc << pad) & 0xFF,))
        return bytes(self.out)


def _zigzag(v: int) -> int:
    # magnitude-independent (deltas/dods of int64 values exceed int64)
    return (v << 1) if v >= 0 else (((-v) << 1) - 1)


def _unzigzag(z: int) -> int:
    return (z >> 1) if (z & 1) == 0 else -((z + 1) >> 1)


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact bit_length of uint64 values via frexp on 32-bit halves.

    frexp returns the exact binary exponent (x = m·2^e, 0.5 ≤ m < 1), so
    bit_length(v) = e for v > 0 — no log2 rounding concerns; 32-bit
    halves keep the float64 conversion exact."""
    hi = (x >> np.uint64(32)).astype(np.float64)
    lo = (x & np.uint64(0xFFFFFFFF)).astype(np.float64)
    _, e_hi = np.frexp(hi)
    _, e_lo = np.frexp(lo)
    return np.where(hi > 0, 32 + e_hi, e_lo).astype(np.int64)


# --------------------------------------------------------------------------
# bit-matrix helpers (the whole point of the section-wise layout)
# --------------------------------------------------------------------------
def _bits_fixed(vals: np.ndarray, w: int) -> np.ndarray:
    """(m*w,) uint8 bit expansion of equal-width fields, MSB-first:
    one C-level ``np.unpackbits`` over the big-endian byte view (no
    per-bit-position Python loop). Widths may exceed 64; bits above 63
    are emitted as 0 (the vectorized encoder's guard keeps escape
    values < 2^63)."""
    m = vals.size
    bits = np.unpackbits(
        vals.astype(">u8").view(np.uint8).reshape(m, 8), axis=1
    )
    if w <= 64:
        return np.ascontiguousarray(bits[:, 64 - w:]).ravel()
    return np.concatenate(
        [np.zeros((m, w - 64), dtype=np.uint8), bits], axis=1
    ).ravel()


def _accum_cols(mat: np.ndarray) -> np.ndarray:
    """Inverse of the per-class expansion: (m, w≤64) uint8 → uint64,
    via ``np.packbits`` over a left-zero-padded (m, 64) bit matrix."""
    m, w = mat.shape
    if w < 64:
        full = np.zeros((m, 64), dtype=np.uint8)
        full[:, 64 - w:] = mat
    else:
        full = np.ascontiguousarray(mat)
    return np.packbits(full, axis=1).view(">u8").astype(np.uint64).ravel()


def _pack_fixed(vals: np.ndarray, w: int) -> bytes:
    """Pack equal-width fields MSB-first, byte-padded."""
    if vals.size == 0:
        return b""
    return np.packbits(_bits_fixed(vals, w)).tobytes()


def _gather_fixed(data: bytes, m: int, w: int) -> np.ndarray:
    """Inverse of :func:`_pack_fixed` → uint64 array of m values."""
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    return _accum_cols(bits[: m * w].reshape(m, w))


def _pack_classed(vals: np.ndarray, widths: np.ndarray) -> bytes:
    """Payload section: fields GROUPED BY WIDTH (ascending), stable row
    order within a group, one byte-padded bit stream. Grouping is what
    keeps both directions reshape-shaped — interleaved variable-width
    fields forced per-bit repeat/arange index arrays an order of
    magnitude slower."""
    if len(widths) == 0:
        return b""
    parts = [
        _bits_fixed(vals[widths == w], int(w)) for w in np.unique(widths)
    ]
    return np.packbits(np.concatenate(parts)).tobytes()


def _gather_classed(
    data: bytes, widths: np.ndarray
) -> tuple[np.ndarray, np.ndarray | None]:
    """Inverse of :func:`_pack_classed`, restoring original row order.
    Returns (lo64, hi) where hi carries bits 64+ of >64-bit fields
    (None when no such bit is set)."""
    n = len(widths)
    out = np.zeros(n, dtype=np.uint64)
    hi_out = None
    if n == 0:
        return out, hi_out
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    off = 0
    for w in np.unique(widths):
        w = int(w)
        idx = np.flatnonzero(widths == w)
        m = len(idx)
        mat = bits[off:off + m * w].reshape(m, w)
        off += m * w
        if w <= 64:
            out[idx] = _accum_cols(mat)
        else:
            hi = _accum_cols(mat[:, : w - 64])
            out[idx] = _accum_cols(mat[:, w - 64:])
            if bool(hi.any()):
                if hi_out is None:
                    hi_out = np.zeros(n, dtype=np.uint64)
                hi_out[idx] = hi
    return out, hi_out


# --------------------------------------------------------------------------
# encode
# --------------------------------------------------------------------------
def encode_segment(ts_us: np.ndarray, values: np.ndarray) -> bytes:
    """Encode parallel int64-micros timestamps + float64 values.

    The vectorized body runs when int64 delta/dod arithmetic cannot
    wrap; otherwise the Python-int scalar twin (byte-parity-tested
    against the vectorized one in their shared domain) handles the full
    range. The range test is wrap-free on purpose: np.abs(int64-min)
    wraps back to int64-min and would pass an abs()-based guard."""
    ts = np.asarray(ts_us, dtype=np.int64)
    vals = np.asarray(values, dtype=np.float64)
    if ts.shape != vals.shape:
        raise ValueError("timestamp/value length mismatch")
    n = ts.size
    header = struct.pack(">IQ", MAGIC, n)
    if n == 0:
        return header
    # Size-based dispatch (rule 20: NumPy per-call fixed overhead
    # dominates tiny inputs): the vectorized body spends ~40 np calls
    # of setup regardless of n — ~108 µs for a 10-point segment where
    # the scalar twin takes ~26 µs; measured crossover ≈ 64-80 points
    # (scalar 137 µs vs vectorized 151 µs at n=64). Fine-tier segments
    # are routinely ~10-20 points (a conv's 1m buckets), so the small-n
    # path is the common case in encode_payloads. Byte parity of the
    # two bodies is hypothesis-tested, so this is purely a perf choice.
    if n > 64 and bool(np.all((ts > -(1 << 60)) & (ts < (1 << 60)))):
        return header + _encode_fields_vectorized(ts, vals)
    return header + _encode_fields_scalar(ts, vals)


def _encode_fields_scalar(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Reference body encoder: Python-int arithmetic, section by
    section. Handles any int64 timestamps (deltas/dods as unbounded
    Python ints); the vectorized path is byte-parity-tested against
    this one."""
    n = ts.size
    out = bytearray()
    out += struct.pack(">Q", int(ts[0]) & _M64)
    if n > 1:
        first_delta = int(ts[1]) - int(ts[0])
        out += _zigzag(first_delta).to_bytes(9, "big")
    if n > 2:
        ctrl = _BitWriter()
        by_class: dict[int, list[int]] = {}
        prev_delta = int(ts[1]) - int(ts[0])
        for i in range(2, n):
            delta = int(ts[i]) - int(ts[i - 1])
            dod = delta - prev_delta
            prev_delta = delta
            if dod == 0:
                ctrl.write(0, 3)
                continue
            z = _zigzag(dod)
            for ci, w in enumerate(_DOD_WIDTHS):
                if z < (1 << w) or w == 66:
                    ctrl.write(ci + 1, 3)
                    by_class.setdefault(w, []).append(z)
                    break
        out += ctrl.bytes()
        pay = _BitWriter()
        for w in sorted(by_class):  # width-class grouping, ascending
            for z in by_class[w]:
                pay.write(z, w)
        out += pay.bytes()

    bits = vals.view(np.uint64).copy()
    bits[np.isnan(vals)] = np.uint64(_QNAN)
    out += struct.pack(">Q", int(bits[0]))
    if n > 1:
        ctrl = _BitWriter()
        meta = _BitWriter()
        by_width: dict[int, list[int]] = {}
        prev = int(bits[0])
        prev_lead, prev_sig = 65, 0
        for i in range(1, n):
            cur = int(bits[i])
            x = prev ^ cur
            prev = cur
            if x == 0:
                ctrl.write(0, 2)
                continue
            lead = 64 - x.bit_length()
            trail = (x & -x).bit_length() - 1
            if lead > 31:
                lead = 31
            sig = 64 - lead - trail
            if (
                prev_lead <= lead
                and (64 - prev_lead - prev_sig) <= trail
                and prev_sig > 0
            ):
                ctrl.write(0b10, 2)
                by_width.setdefault(prev_sig, []).append(
                    x >> (64 - prev_lead - prev_sig)
                )
            else:
                ctrl.write(0b11, 2)
                meta.write((lead << 6) | (sig - 1), 12)
                by_width.setdefault(sig, []).append(x >> trail)
                prev_lead, prev_sig = lead, sig
        out += ctrl.bytes()
        out += meta.bytes()
        pay = _BitWriter()
        for w in sorted(by_width):  # width-class grouping, ascending
            for v in by_width[w]:
                pay.write(v, w)
        out += pay.bytes()
    return bytes(out)


def _encode_fields_vectorized(ts: np.ndarray, vals: np.ndarray) -> bytes:
    """Body encoder for the guarded fast path (n > 2, |ts| < 2^60):
    everything is NumPy except the value-window scan, which only
    CHOOSES control codes (the emission it used to interleave with is
    now the batched section packers)."""
    n = ts.size
    out = bytearray()

    # --- timestamps ---
    out += struct.pack(">Q", int(ts[0]) & _M64)
    first_delta = int(ts[1]) - int(ts[0])
    out += _zigzag(first_delta).to_bytes(9, "big")
    deltas = np.diff(ts)  # < 2^61 in magnitude under the guard
    dods = np.diff(deltas)  # < 2^62
    z = np.where(dods >= 0, dods << 1, ((-dods) << 1) - 1)  # < 2^63
    cls = np.searchsorted(_DOD_THRESH, z, side="right")
    codes = np.where(dods == 0, 0, cls + 1).astype(np.uint64)
    out += _pack_fixed(codes, 3)
    nz = codes > 0
    out += _pack_classed(z[nz].astype(np.uint64), _DOD_W_ARR[cls[nz]])

    # --- values (XOR) ---
    bits = vals.view(np.uint64).copy()
    bits[np.isnan(vals)] = np.uint64(_QNAN)
    out += struct.pack(">Q", int(bits[0]))
    x = bits[1:] ^ bits[:-1]
    nzv = x > 0
    lead = np.minimum(64 - _bit_length_u64(x), 31)
    lowbit = x & (~x + np.uint64(1))
    trail = np.where(nzv, _bit_length_u64(lowbit) - 1, 0)
    xl = x.tolist()
    ll = lead.tolist()
    tl = trail.tolist()
    vcode_l = [0] * (n - 1)
    metas: list[int] = []
    sig_vals: list[int] = []
    sig_widths: list[int] = []
    prev_lead, prev_sig, prev_tail = 65, 0, 64
    for i, xi in enumerate(xl):
        if xi == 0:
            continue
        li = ll[i]
        if prev_lead <= li and prev_tail <= tl[i] and prev_sig > 0:
            vcode_l[i] = 2
            sig_vals.append(xi >> prev_tail)
            sig_widths.append(prev_sig)
        else:
            ti = tl[i]
            si = 64 - li - ti
            vcode_l[i] = 3
            metas.append((li << 6) | (si - 1))
            sig_vals.append(xi >> ti)
            sig_widths.append(si)
            prev_lead, prev_sig, prev_tail = li, si, ti
    out += _pack_fixed(np.array(vcode_l, dtype=np.uint64), 2)
    out += _pack_fixed(np.array(metas, dtype=np.uint64), 12)
    out += _pack_classed(
        np.array(sig_vals, dtype=np.uint64),
        np.array(sig_widths, dtype=np.int64),
    )
    return bytes(out)


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------
# decode_segment's size dispatch: the crossover measured by
# scripts/bench_codec.py's decode legs (quoted in decode_segment)
_SCALAR_DECODE_MAX = 128


def _need(payload: bytes, off: int, k: int) -> None:
    if len(payload) < off + k:
        raise ValueError(
            f"truncated payload: need {off + k} bytes, have {len(payload)}"
        )


def _wrap64(v: int) -> int:
    """Python int → the signed int64 with the same low 64 bits."""
    return ((v + (1 << 63)) & _M64) - (1 << 63)


def _decode_header(payload: bytes) -> int:
    """Validate the header and the minimum length for its row count;
    returns n. Shared by both decode bodies."""
    if len(payload) < 12:
        raise ValueError("truncated payload: missing header")
    magic, n = struct.unpack(">IQ", payload[:12])
    if magic != MAGIC:
        raise ValueError("bad magic")
    if n == 0:
        return 0
    # cheapest possible stream for n points (anchors + control
    # sections with all-zero payloads); rejecting up front keeps a
    # corrupt header from allocating O(n) output for a tiny buffer
    min_len = 12 + 8 + 8
    if n > 1:
        min_len += 9 + ((2 * (n - 1) + 7) >> 3)
    if n > 2:
        min_len += (3 * (n - 2) + 7) >> 3
    if len(payload) < min_len:
        raise ValueError(
            f"truncated payload: {len(payload)} bytes < minimum "
            f"{min_len} for {n} points"
        )
    return n


def decode_segment(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_segment` → (ts_us int64, values float64).

    Two bodies behind one size dispatch, like the encoder: segments of
    at most ``_SCALAR_DECODE_MAX`` points decode with Python-int field
    reads (:func:`_decode_fields_scalar`), larger ones with the NumPy
    body (:func:`_decode_fields_vectorized`). ``scripts/bench_codec.py``
    decode legs (4 cores, idle): scalar 13 µs at 4 points and
    1.3–2.5 µs/pt at 8–128; vectorized 130–160 µs per segment up to
    64 points, 283 µs against the scalar 236 µs at 128, and ahead from
    ~256 points (322 against 534 µs). Fine-tier segments average ~16
    points (scalar 36 µs, vectorized 148 µs). Both bodies return
    bit-identical arrays and raise the same ValueErrors (hypothesis-
    and byte-flip-tested): every section's length is validated before
    it is touched, so truncated or corrupt payloads raise instead of
    decoding garbage (and a corrupt huge row count is rejected before
    any O(n) allocation)."""
    n = _decode_header(payload)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if n <= _SCALAR_DECODE_MAX:
        return _decode_fields_scalar(payload, n)
    return _decode_fields_vectorized(payload, n)


def _fixed_fields(data: bytes, m: int, w: int) -> list[int]:
    """Scalar inverse of :func:`_pack_fixed`: m w-bit fields."""
    acc = int.from_bytes(data, "big")
    top = len(data) * 8
    mask = (1 << w) - 1
    return [(acc >> s) & mask for s in range(top - w, top - w * m - 1, -w)]


def _classed_fields(data: bytes, widths: list[int]) -> list[int]:
    """Scalar inverse of :func:`_pack_classed`: a stable sort by width
    walks the width-class groups in stream order."""
    acc = int.from_bytes(data, "big")
    pos = len(data) * 8
    out = [0] * len(widths)
    for i in sorted(range(len(widths)), key=widths.__getitem__):
        w = widths[i]
        pos -= w
        out[i] = (acc >> pos) & ((1 << w) - 1)
    return out


def _decode_fields_scalar(
    payload: bytes, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Small-segment body: Python-int arithmetic over whole-section
    ints. Timestamps accumulate unbounded and wrap to int64 once per
    point, which equals the vectorized body's modular cumsum. Checks
    and messages follow the vectorized body in the same order."""
    off = 12
    t = int.from_bytes(payload[off:off + 8], "big")
    off += 8
    ts = [t]
    if n > 1:
        delta = _unzigzag(int.from_bytes(payload[off:off + 9], "big"))
        off += 9
        t += delta
        ts.append(t)
    if n > 2:
        cbytes = (3 * (n - 2) + 7) >> 3
        codes = _fixed_fields(payload[off:off + cbytes], n - 2, 3)
        off += cbytes
        if max(codes) > 5:
            raise ValueError("corrupt payload: invalid dod class code")
        widths = [_DOD_WIDTHS[c - 1] for c in codes if c]
        pbytes = (sum(widths) + 7) >> 3
        _need(payload, off, pbytes)
        zs = iter(_classed_fields(payload[off:off + pbytes], widths))
        off += pbytes
        for c in codes:
            if c:
                delta += _unzigzag(next(zs))
            t += delta
            ts.append(t)
    ts_arr = np.array([_wrap64(v) for v in ts], dtype=np.int64)

    _need(payload, off, 8)
    v = int.from_bytes(payload[off:off + 8], "big")
    off += 8
    bits = [v]
    if n > 1:
        cbytes = (2 * (n - 1) + 7) >> 3
        _need(payload, off, cbytes)
        vcodes = _fixed_fields(payload[off:off + cbytes], n - 1, 2)
        off += cbytes
        if 1 in vcodes:
            raise ValueError("corrupt payload: invalid value control code")
        n_new = vcodes.count(3)
        mbytes = (12 * n_new + 7) >> 3
        _need(payload, off, mbytes)
        metas = _fixed_fields(payload[off:off + mbytes], n_new, 12)
        off += mbytes
        first = next((c for c in vcodes if c), 0)
        if first == 2:
            raise ValueError(
                "corrupt payload: window reuse before any window"
            )
        if any((m >> 6) + (m & 63) + 1 > 64 for m in metas):
            raise ValueError("corrupt payload: window exceeds 64 bits")
        sigs: list[int] = []
        shifts: list[int] = []
        k = -1
        for c in vcodes:
            if c == 3:
                k += 1
                m = metas[k]
                sig = (m & 63) + 1
                shift = 64 - (m >> 6) - sig
            if c:
                sigs.append(sig)
                shifts.append(shift)
        pbytes = (sum(sigs) + 7) >> 3
        _need(payload, off, pbytes)
        fields = iter(zip(_classed_fields(payload[off:off + pbytes], sigs),
                          shifts))
        for c in vcodes:
            if c:
                f, shift = next(fields)
                v ^= f << shift
            bits.append(v)
    return ts_arr, np.array(bits, dtype=np.uint64).view(np.float64)


def _decode_fields_vectorized(
    payload: bytes, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Large-segment body: fixed-width sections via reshape, payload
    fields via the width-class gather, timestamps via modular-int64
    cumsum (the true instants fit int64, so mod-2^64 accumulation is
    exact — same contract as a per-step int64 wrap), values via
    ``np.bitwise_xor.accumulate``."""
    off = 12
    u = int.from_bytes(payload[off:off + 8], "big")
    t0 = u - (1 << 64) if u >= 1 << 63 else u
    off += 8

    first_delta = 0
    if n > 1:
        first_delta = _unzigzag(
            int.from_bytes(payload[off:off + 9], "big")
        )
        off += 9

    dod64 = np.zeros(n - 2 if n > 2 else 0, dtype=np.int64)
    if n > 2:
        cbytes = (3 * (n - 2) + 7) >> 3
        codes = _gather_fixed(payload[off:off + cbytes], n - 2, 3)
        off += cbytes
        if bool(np.any(codes > 5)):
            raise ValueError("corrupt payload: invalid dod class code")
        nz = codes > 0
        widths = _DOD_W_ARR[(codes[nz] - np.uint64(1)).astype(np.int64)]
        pbytes = (int(widths.sum()) + 7) >> 3
        _need(payload, off, pbytes)
        lo, hi = _gather_classed(payload[off:off + pbytes], widths)
        off += pbytes
        # unzigzag in mod-2^64 arithmetic: dod = ±(z+1)//2; hi carries
        # bits 64+ of escape fields, which only shift the wrap
        half = np.where(
            lo & np.uint64(1),
            ((lo >> np.uint64(1)) + np.uint64(1)),
            lo >> np.uint64(1),
        )
        if hi is not None:
            half = half + (hi << np.uint64(63))
        signed = half.view(np.int64).copy()
        d = np.where(lo & np.uint64(1), -signed, signed)
        dod64[nz] = d

    # deltas_i (i >= 2) = first_delta + cumsum(dod); ts = t0 + cumsum
    fd64 = np.int64(_wrap64(first_delta))
    steps = np.empty(n, dtype=np.int64)
    steps[0] = t0
    if n > 1:
        steps[1] = fd64
    if n > 2:
        steps[2:] = fd64 + np.cumsum(dod64)
    ts = np.cumsum(steps)

    _need(payload, off, 8)
    v0 = np.uint64(int.from_bytes(payload[off:off + 8], "big"))
    off += 8
    if n == 1:
        return ts, np.array([v0], dtype=np.uint64).view(np.float64)

    cbytes = (2 * (n - 1) + 7) >> 3
    _need(payload, off, cbytes)
    vcodes = _gather_fixed(payload[off:off + cbytes], n - 1, 2)
    off += cbytes
    if bool(np.any(vcodes == 1)):
        raise ValueError("corrupt payload: invalid value control code")
    is_new = vcodes == 3
    n_new = int(is_new.sum())
    mbytes = (12 * n_new + 7) >> 3
    _need(payload, off, mbytes)
    wm = _gather_fixed(payload[off:off + mbytes], n_new, 12)
    off += mbytes
    leads = wm >> np.uint64(6)
    sigs = (wm & np.uint64(63)) + np.uint64(1)

    nzv = vcodes != 0
    widx = np.cumsum(is_new) - 1
    if bool(np.any(nzv & (widx < 0))):
        raise ValueError("corrupt payload: window reuse before any window")
    if bool(np.any(leads + sigs > np.uint64(64))):
        raise ValueError("corrupt payload: window exceeds 64 bits")
    sig_pt = sigs[widx[nzv]]
    lead_pt = leads[widx[nzv]]
    pbytes = (int(sig_pt.sum()) + 7) >> 3
    _need(payload, off, pbytes)
    lo, _ = _gather_classed(
        payload[off:off + pbytes], sig_pt.astype(np.int64)
    )
    off += pbytes
    x = np.zeros(n - 1, dtype=np.uint64)
    x[nzv] = lo << (np.uint64(64) - lead_pt - sig_pt)
    vals_bits = np.bitwise_xor.accumulate(
        np.concatenate(([v0], x))
    )
    return ts, vals_bits.view(np.float64)
