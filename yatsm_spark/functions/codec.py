"""K11: delta-of-delta timestamp codec + Gorilla XOR float codec (numpy).

Implements the compression scheme of Facebook's Gorilla TSDB (Pelkonen et
al., "Gorilla: A Fast, Scalable, In-Memory Time Series Database", VLDB
2015, §4.1) for the ``segment_blobs`` table (SURVEY.md §1.2):

Timestamps (§4.1.1, delta-of-delta with prefix codes):
    header: n (uint32 LE), t0 (int64 LE), delta0 (int64 LE)
    per point i>=2, dod = (t_i - t_{i-1}) - (t_{i-1} - t_{i-2}):
      dod == 0               -> '0'
      -63   <= dod <= 64     -> '10'    + 7  bits (dod + 63)
      -255  <= dod <= 256    -> '110'   + 9  bits (dod + 255)
      -2047 <= dod <= 2048   -> '1110'  + 12 bits (dod + 2047)
      else                   -> '1111'  + 64 bits (two's complement)

Values (§4.1.2, XOR with leading/trailing-zero windows):
    header: n (uint32 LE), v0 (float64 LE bits)
    per point i>=1, x = bits(v_i) XOR bits(v_{i-1}):
      x == 0                                    -> '0'
      x fits previous (lz, mlen) window         -> '10' + mlen bits
      else -> '11' + 5 bits lz + 6 bits (mlen-1) + mlen meaningful bits

Both encoders do the per-class bit packing fully vectorized (bit-matrix
scatter + np.packbits); only the value codec's window-reuse decision is a
data-dependent scan (a cheap per-point loop over precomputed lz/tz arrays —
the same scan the Gorilla paper describes; group sizes are bounded upstream
so this is O(series length) with tiny constants).  Decoders are sequential
bit readers — used for verification, round-trip tests, and point queries.

Determinism: encoding is a pure function of the (sorted) input arrays; the
caller sorts by timestamp (SURVEY.md §4.3).  Version byte 1 leads every
blob so the format can evolve.

Reference analog: the reference persists per-line record arrays as
``np.savez`` archives (yatsm/utils.py::get_output_name [U]); this replaces
that sink with a scan-resistant columnar time-series codec per north_star
(BASELINE.json:6).
"""

from __future__ import annotations

import struct

import numpy as np

from yatsm_spark.functions import decode_guard

CODEC_VERSION = 1

# (prefix bits as string, payload bit width, bias) per dod class
_DOD_CLASSES = [
    ("10", 7, 63),
    ("110", 9, 255),
    ("1110", 12, 2047),
    ("1111", 64, 0),  # raw two's complement
]


def _scatter_codes(
    offs: np.ndarray, codes: np.ndarray, nbits: int, bits: np.ndarray
) -> None:
    """Write the ``nbits``-wide ``codes`` into the bit array at ``offs``
    (both already selected for one code class) — one vectorized scatter."""
    if offs.size == 0:
        return
    sel = codes.astype(np.uint64)
    shifts = np.arange(nbits - 1, -1, -1, dtype=np.uint64)
    bitmat = (sel[:, None] >> shifts[None, :]) & np.uint64(1)
    idx = (offs[:, None] + np.arange(nbits)[None, :]).ravel()
    bits[idx] = bitmat.ravel().astype(bool)


def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 timestamps (any unit; caller picks)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = ts.size
    head = struct.pack("<BIq", CODEC_VERSION, n, int(ts[0]) if n else 0)
    if n <= 1:
        return head + struct.pack("<q", 0)
    delta0 = int(ts[1] - ts[0])
    head += struct.pack("<q", delta0)
    if n == 2:
        return head

    deltas = np.diff(ts)
    dod = deltas[1:] - deltas[:-1]  # length n-2

    # class index per point: 0='0', 1..4 per _DOD_CLASSES
    cls = np.full(dod.shape, 4, dtype=np.int8)
    cls[(dod >= -2047) & (dod <= 2048)] = 3
    cls[(dod >= -255) & (dod <= 256)] = 2
    cls[(dod >= -63) & (dod <= 64)] = 1
    cls[dod == 0] = 0

    prefix_bits = np.array([1, 2, 3, 4, 4], dtype=np.int64)
    payload_bits = np.array([0, 7, 9, 12, 64], dtype=np.int64)
    nbits = prefix_bits[cls] + payload_bits[cls]
    offsets = np.concatenate([[0], np.cumsum(nbits)[:-1]])
    total = int(nbits.sum())
    bits = np.zeros(total, dtype=bool)

    # prefixes: class0 '0' is already zeros; others start with ones
    for ci, (prefix, width, bias) in enumerate(_DOD_CLASSES, start=1):
        mask = cls == ci
        if not mask.any():
            continue
        offs = offsets[mask]
        for j, ch in enumerate(prefix):
            if ch == "1":
                bits[offs + j] = True
        payload = (dod[mask] + bias).astype(np.int64).view(np.uint64)
        _scatter_codes(offs + len(prefix), payload, width, bits)

    return head + np.packbits(bits).tobytes()


def _field_reader(payload: bytes):
    """Bit-field reader over a byte payload: each read slices only the
    covered bytes (<= 10 for the widest 68-bit field) and does O(1) int
    arithmetic — no per-bit work, no big-int shifts over the whole blob.
    ~20x faster than the numpy bool-slice + dot formulation it replaces
    (the old path cost several numpy ops PER FIELD; decode was the
    slowest bench query at 14s)."""
    buf = payload + b"\x00\x00"  # pad: prefix peeks may read past the end

    def read(pos: int, width: int) -> int:
        start = pos >> 3
        end = (pos + width + 7) >> 3
        chunk = int.from_bytes(buf[start:end], "big")
        return (chunk >> ((end << 3) - pos - width)) & ((1 << width) - 1)

    return read


def _check_end(pos: int, payload: bytes) -> None:
    """Reads past the payload see the zero pad and decode as '0' codes; the
    encoders pack exactly the bits they code, so a whole blob's parse ends
    in its last byte (a count inflated by less than that byte's pad cannot
    be told from '0' codes)."""
    if (pos + 7) // 8 != len(payload):
        raise ValueError(f"parse ended at bit {pos} of a {len(payload)}-byte payload")


@decode_guard
def decode_dod(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_dod`.

    Sequential prefix-code parse with O(1) int ops per point; the final
    double integration (dod -> delta -> ts) is two vectorized cumsums.
    Malformed or truncated blobs raise ValueError.
    """
    ver, n, t0 = struct.unpack_from("<BIq", blob, 0)
    if ver != CODEC_VERSION:
        raise ValueError(f"unsupported codec version {ver}")
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.array([t0], dtype=np.int64)
    (delta0,) = struct.unpack_from("<q", blob, 13)
    payload = blob[21:]
    if n - 2 > 8 * len(payload):  # every coded point costs >= 1 bit
        raise ValueError(f"count {n} overruns a {len(payload)}-byte payload")
    read = _field_reader(payload)
    dods = np.zeros(n - 2, dtype=np.int64)
    pos = 0
    for i in range(n - 2):
        p4 = read(pos, 4)
        if p4 < 8:  # '0'
            pos += 1
        elif p4 < 12:  # '10' + 7
            dods[i] = read(pos + 2, 7) - 63
            pos += 9
        elif p4 < 14:  # '110' + 9
            dods[i] = read(pos + 3, 9) - 255
            pos += 12
        elif p4 == 14:  # '1110' + 12
            dods[i] = read(pos + 4, 12) - 2047
            pos += 16
        else:  # '1111' + 64 two's complement
            raw = read(pos + 4, 64)
            dods[i] = raw - (1 << 64) if raw >= (1 << 63) else raw
            pos += 68
    _check_end(pos, payload)
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = delta0
    np.cumsum(dods, out=dods)
    deltas[1:] = delta0 + dods
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    out[1:] = t0 + np.cumsum(deltas)
    return out


def encode_gorilla(vals: np.ndarray) -> bytes:
    """Gorilla XOR encode float64 values."""
    v = np.asarray(vals, dtype=np.float64)
    n = v.size
    head = struct.pack("<BI", CODEC_VERSION, n)
    if n == 0:
        return head
    bits_v = v.view(np.uint64)
    head += struct.pack("<Q", int(bits_v[0]))
    if n == 1:
        return head

    x = bits_v[1:] ^ bits_v[:-1]  # length n-1
    # vectorized leading/trailing zero counts (64-bit)
    lz = np.zeros(x.shape, dtype=np.int64)
    tz = np.zeros(x.shape, dtype=np.int64)
    nz = x != 0
    if nz.any():
        xs = x[nz]
        # leading zeros via float64 exponent of the MSB (exact for uint64)
        hi = np.zeros(xs.shape, dtype=np.int64)
        tmp = xs.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            m = tmp >= (np.uint64(1) << np.uint64(shift))
            hi[m] += shift
            tmp[m] >>= np.uint64(shift)
        lz_nz = 63 - hi
        tz_nz = np.zeros(xs.shape, dtype=np.int64)
        tmp = xs.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            m = (tmp & ((np.uint64(1) << np.uint64(shift)) - np.uint64(1))) == 0
            tz_nz[m] += shift
            tmp[m] >>= np.uint64(shift)
        # Gorilla caps lz at 31 (5-bit field)
        lz[nz] = np.minimum(lz_nz, 31)
        tz[nz] = tz_nz

    # window-reuse scan.  The window state changes ONLY at '11' events
    # (a reuse leaves prev_lz/prev_ml untouched), so instead of walking
    # every point in Python we loop over EVENTS: from each new window,
    # a geometrically-growing numpy chunk scan finds the first later
    # point whose (lz, tz) cannot fit the current window — everything in
    # between reuses and is slice-assigned.  Exactly equivalent to the
    # per-point state machine (pinned by the hypothesis round-trip suite
    # and test_blob_determinism); measured ~13x faster on both smooth
    # (few events) and window-churning series.
    ctrl = np.zeros(x.shape, dtype=np.int8)  # 0:'0', 1:'10' reuse, 2:'11' new
    use_lz = np.zeros(x.shape, dtype=np.int64)
    use_ml = np.zeros(x.shape, dtype=np.int64)
    idx = np.flatnonzero(nz)
    m = idx.size
    if m:
        lzn, tzn = lz[idx], tz[idx]
        ctrl_n = np.ones(m, dtype=np.int8)
        ulz = np.empty(m, dtype=np.int64)
        uml = np.empty(m, dtype=np.int64)
        k = 0
        while k < m:
            li = int(lzn[k])
            ti = int(tzn[k])
            # reuse requires lz >= li AND tz >= ti; find the first misfit
            j, step, nxt = k + 1, 4, m
            while j < m:
                e = min(m, j + step)
                hit = np.flatnonzero((lzn[j:e] < li) | (tzn[j:e] < ti))
                if hit.size:
                    nxt = j + int(hit[0])
                    break
                j = e
                step *= 4
            ctrl_n[k] = 2
            ulz[k:nxt] = li
            uml[k:nxt] = 64 - li - ti
            k = nxt
        ctrl[idx] = ctrl_n
        use_lz[idx] = ulz
        use_ml[idx] = uml

    nbits = np.where(ctrl == 0, 1, np.where(ctrl == 1, 2 + use_ml, 2 + 11 + use_ml))
    offsets = np.concatenate([[0], np.cumsum(nbits)[:-1]])
    total = int(nbits.sum())
    bits = np.zeros(total, dtype=bool)

    m1 = ctrl == 1
    if m1.any():
        bits[offsets[m1]] = True  # '10'
        # meaningful bits for each distinct (lz, ml) window width
        for ml in np.unique(use_ml[m1]):
            mm = m1 & (use_ml == ml)
            shift = (64 - use_lz[mm] - ml).astype(np.uint64)
            payload = (x[mm] >> shift) & (np.uint64(0xFFFFFFFFFFFFFFFF) >> np.uint64(64 - int(ml)))
            _scatter_codes(offsets[mm] + 2, payload, int(ml), bits)
    m2 = ctrl == 2
    if m2.any():
        bits[offsets[m2]] = True
        bits[offsets[m2] + 1] = True  # '11'
        _scatter_codes(offsets[m2] + 2, use_lz[m2].view(np.uint64), 5, bits)
        _scatter_codes(offsets[m2] + 7, (use_ml[m2] - 1).view(np.uint64), 6, bits)
        for ml in np.unique(use_ml[m2]):
            mm = m2 & (use_ml == ml)
            shift = (64 - use_lz[mm] - ml).astype(np.uint64)
            payload = (x[mm] >> shift) & (np.uint64(0xFFFFFFFFFFFFFFFF) >> np.uint64(64 - int(ml)))
            _scatter_codes(offsets[mm] + 13, payload, int(ml), bits)

    return head + np.packbits(bits).tobytes()


@decode_guard
def decode_gorilla(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_gorilla`; malformed or truncated blobs
    raise ValueError."""
    ver, n = struct.unpack_from("<BI", blob, 0)
    if ver != CODEC_VERSION:
        raise ValueError(f"unsupported codec version {ver}")
    if n == 0:
        return np.empty(0, dtype=np.float64)
    (v0,) = struct.unpack_from("<Q", blob, 5)
    payload = blob[13:]
    if n - 1 > 8 * len(payload):  # every coded point costs >= 1 bit
        raise ValueError(f"count {n} overruns a {len(payload)}-byte payload")
    read = _field_reader(payload)
    xors = np.zeros(n - 1, dtype=np.uint64)
    pos = 0
    lz, ml = 0, 0
    for i in range(n - 1):
        p2 = read(pos, 2)
        if p2 < 2:  # '0'
            pos += 1
            continue
        if p2 == 2:  # '10' reuse window
            pos += 2
        else:  # '11' new window
            lz = read(pos + 2, 5)
            ml = read(pos + 7, 6) + 1
            pos += 13
        xors[i] = read(pos, ml) << (64 - lz - ml)
        pos += ml
    _check_end(pos, payload)
    # xor-prefix scan: out[i] = v0 ^ x1 ^ ... ^ xi (vectorized accumulate)
    out = np.empty(n, dtype=np.uint64)
    out[0] = v0
    out[1:] = np.uint64(v0) ^ np.bitwise_xor.accumulate(xors)
    return out.view(np.float64)


def encode_series(ts: np.ndarray, vals: np.ndarray) -> tuple[bytes, bytes]:
    """Encode one (sorted-by-ts) series into (ts_blob, val_blob)."""
    if len(ts) != len(vals):
        raise ValueError("ts/vals length mismatch")
    return encode_dod(ts), encode_gorilla(vals)


def decode_series(ts_blob: bytes, val_blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    return decode_dod(ts_blob), decode_gorilla(val_blob)
