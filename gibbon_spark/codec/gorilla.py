"""Bit-exact Gorilla stream codec — fresh Python implementation of the
format the reference library defines (SURVEY.md §2.1 #4-#12).

Format spec (documented from reference behavior; no code ported):

Timestamps (``src/timestamp_stream.rs:29-67``):
- first record: 14-bit unsigned delta from a 2-hour-aligned header time
  (delta must be in [0, 2^14), the range of the 14-bit field);
- then delta-of-delta buckets: ``0`` if dod == 0; ``10`` + 7 bits
  (dod+63) for dod in [-63, 64]; ``110`` + 9 bits (dod+255) for
  [-255, 256]; ``1110`` + 12 bits (dod+2047) for [-2047, 2048]; else
  ``1111`` + the low 32 bits of dod (two's-complement truncation).
  DOCUMENTED DIVERGENCE: the reference decodes the 32-bit case as
  *unsigned* (``timestamp_stream.rs:100-103`` — bias 0), so a negative
  dod beyond -2047 garbles its own stream (hit whenever the 2-h header
  gap minus the cadence exceeds 2047 s). We sign-extend on decode —
  bit format identical, every reference golden vector (all with
  non-negative 32-bit dods) still matches, and the stream round-trips;
- decode uses wrapping 64-bit adds (``timestamp_stream.rs:88,106``), so
  negative deltas (equal/duplicate timestamps) round-trip.

Doubles (``src/double_stream.rs:33-82``, the shrinking-window
``[XORORLEADING]`` variant):
- first record: raw 64 IEEE-754 bits;
- xor == 0 → ``0`` (1 bit); writer state's xor becomes 0, which forces
  the next non-repeat to open a new window (lz(0)=64 window is
  unsatisfiable);
- window reuse (``10``): if lz(xor) [capped at 31, ``[LEADING31]``]
  >= lz(prev_xor) and tz(xor) >= tz(prev_xor), write the xor shifted by
  prev_tz in (64 - prev_lz - prev_tz) bits;
- new window (``11``): 5 bits lz (capped 31) + 6 bits (meaningful-1,
  ``[MEANING64]``) + meaningful bits, meaningful = 64 - tz - capped_lz.

Compound stream (``src/time_and_value_stream.rs:20-23``): one timestamp
record then one value record per point, interleaved.

Bit order: first-written bit is the MSB of the first byte (matches the
reference's golden bit-string tests, which are asserted verbatim in
tests/test_gorilla_codec.py).

Block APIs, scalar and batched:
- :func:`encode_block` / :func:`decode_block` work on one block with
  Python ints; the streaming classes above are their reference.
- :func:`encode_blocks_vectorized` packs every block of a batch in one
  numpy pass.
- :func:`decode_blocks_vectorized` decodes the blocks of a batch in
  lockstep: one numpy step decodes record ``i`` of every block that has
  one, so it costs one step per record of the LONGEST block, against the
  scalar loop's cost per record of ALL blocks. Batch callers
  (codec/spark_ops.decode_timeseries) use it when
  ``sum(n_samples) >= LOCKSTEP_MIN_WIDTH * max(n_samples)`` and
  :func:`decode_block` per block otherwise.
Both decoders stop exactly at ``n_bits`` and raise ``ValueError`` on a
record that crosses it.

Everything in this module is deliberately self-contained (stdlib at
import; numpy imported inside the vectorized functions) so Spark
executors can receive it pickled by value.
"""

from __future__ import annotations

import struct

_U64 = (1 << 64) - 1


class BitWriter:
    """Append-only bit sink; O(1) amortized per write."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0
        self.nbits = 0

    def write(self, value: int, count: int) -> None:
        """Append the ``count`` least-significant bits of ``value``,
        most-significant of those first (Writer contract, stream.rs:1-4)."""
        self.acc = (self.acc << count) | (value & ((1 << count) - 1))
        self.nacc += count
        self.nbits += count
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def getvalue(self) -> tuple[bytes, int]:
        """(payload, total bit count); trailing partial byte zero-padded."""
        out = bytes(self.buf)
        if self.nacc:
            out += bytes([(self.acc << (8 - self.nacc)) & 0xFF])
        return out, self.nbits

    @property
    def bit_string(self) -> str:
        data, nbits = self.getvalue()
        return "".join(f"{b:08b}" for b in data)[:nbits]


class BitReader:
    """Forward-only bit cursor; returns None at end-of-stream
    (Reader contract, stream.rs:6-8)."""

    def __init__(self, data: bytes, nbits: int) -> None:
        self.data = data
        self.nbits = nbits
        self.pos = 0

    def read(self, count: int) -> int | None:
        if self.pos + count > self.nbits:
            return None
        out = 0
        pos = self.pos
        remaining = count
        while remaining:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, remaining)
            chunk = (byte >> (avail - take)) & ((1 << take) - 1)
            out = (out << take) | chunk
            pos += take
            remaining -= take
        self.pos = pos
        return out


def _lz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _tz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 0


class TimestampEncoder:
    def __init__(self, header_time: int) -> None:
        self.header_time = header_time
        self.prev: int | None = None
        self.delta = 0

    def push(self, ts: int, w: BitWriter) -> None:
        if self.prev is None:
            delta = ts - self.header_time
            if not (0 <= delta < (1 << 14)):
                raise ValueError(
                    f"first delta {delta} outside [0, 2^14) — header_time "
                    "must be the 2h-aligned floor of the first timestamp"
                )
            w.write(delta, 14)
            self.delta = delta
        else:
            delta = ts - self.prev  # may be negative (dupes ok)
            dod = delta - self.delta
            if dod == 0:
                w.write(0, 1)
            elif -63 <= dod <= 64:
                w.write(0b10, 2)
                w.write(dod + 63, 7)
            elif -255 <= dod <= 256:
                w.write(0b110, 3)
                w.write(dod + 255, 9)
            elif -2047 <= dod <= 2048:
                w.write(0b1110, 4)
                w.write(dod + 2047, 12)
            else:
                w.write(0b1111, 4)
                w.write(dod & 0xFFFFFFFF, 32)
            self.delta = delta
        self.prev = ts


class TimestampDecoder:
    def __init__(self, header_time: int) -> None:
        self.header_time = header_time
        self.value: int | None = None
        self.delta = 0

    def next(self, r: BitReader) -> int | None:
        if self.value is None:
            delta = r.read(14)
            if delta is None:
                return None
            self.value = (self.header_time + delta) & _U64
            self.delta = delta
            return self.value
        ctl = r.read(1)
        if ctl is None:
            return None
        if ctl == 0:
            self.value = (self.value + self.delta) & _U64
            return self.value
        if r.read(1) == 0:
            nbits, bias = 7, 63
        elif r.read(1) == 0:
            nbits, bias = 9, 255
        elif r.read(1) == 0:
            nbits, bias = 12, 2047
        else:
            nbits, bias = 32, 0
        dod = r.read(nbits) - bias
        if nbits == 32 and dod >= (1 << 31):  # sign-extend (see module doc)
            dod -= 1 << 32
        self.delta += dod
        self.value = (self.value + self.delta) & _U64
        return self.value


class DoubleEncoder:
    def __init__(self) -> None:
        self.value: int | None = None
        self.xor = 0

    def push(self, number: float, w: BitWriter) -> None:
        bits = struct.unpack("<Q", struct.pack("<d", number))[0]
        if self.value is None:
            w.write(bits, 64)
            self.value, self.xor = bits, bits
            return
        xored = self.value ^ bits
        if xored == 0:
            w.write(0, 1)
        else:
            lz = min(_lz64(xored), 31)
            tz = _tz64(xored)
            prev_lz = _lz64(self.xor)
            prev_tz = 0 if prev_lz == 64 else _tz64(self.xor)
            if lz >= prev_lz and tz >= prev_tz:
                w.write(0b10, 2)
                w.write(xored >> prev_tz, 64 - prev_tz - prev_lz)
            else:
                meaningful = 64 - tz - lz
                w.write(0b11, 2)
                w.write(lz, 5)
                w.write(meaningful - 1, 6)
                w.write(xored >> tz, meaningful)
        self.value, self.xor = bits, xored


class DoubleDecoder:
    def __init__(self) -> None:
        self.value: int | None = None
        self.xor = 0

    def next(self, r: BitReader) -> float | None:
        if self.value is None:
            bits = r.read(64)
            if bits is None:
                return None
            self.value, self.xor = bits, bits
        else:
            ctl = r.read(1)
            if ctl is None:
                return None
            if ctl == 1:
                sub = r.read(1)
                if sub is None:
                    return None  # truncated mid-record: EOS, not TypeError
                if sub == 0:  # reuse window (from current xor state)
                    prev_lz = _lz64(self.xor)
                    prev_tz = 0 if prev_lz == 64 else _tz64(self.xor)
                    nbits = 64 - prev_tz - prev_lz
                    payload = r.read(nbits)
                    if payload is None:
                        return None
                    new_xor = payload << prev_tz
                else:  # new window
                    lz = r.read(5)
                    mc = r.read(6)
                    if lz is None or mc is None:
                        return None
                    meaningful = mc + 1
                    tz = 64 - meaningful - lz
                    payload = r.read(meaningful)
                    if payload is None:
                        return None
                    new_xor = payload << tz
                self.value ^= new_xor
                self.xor = new_xor
        return struct.unpack("<d", struct.pack("<Q", self.value))[0]


class DoubleEncoderLeadTrail:
    """The reference's NON-shrinking-window XOR variant
    (``src/double_stream_lead_trail.rs:35-107``): the (leading_zeros,
    meaningful_count) window persists across values and only changes on
    an explicit ``11`` record — unlike :class:`DoubleEncoder`, whose
    implicit window derives from the PREVIOUS xor and so shrinks on
    every reuse. Same three control codes (``0`` repeat, ``10`` fit in
    current window, ``11`` + 5-bit lz [capped 31, ``[LEADING31]``] +
    6-bit meaningful-1 [``[MEANING64]``] + meaningful bits).

    The reference ships this writer-only with no decoder and no tests
    (its README calls the lead/trail-vs-shrinking choice unresolved);
    the format here is derived from the writer's spec and pinned by
    hand-computed golden bit strings in tests/test_gorilla_codec.py.
    :class:`DoubleDecoderLeadTrail` is our extension — the reference
    has nothing to diverge from."""

    def __init__(self) -> None:
        self.value: int | None = None
        self.lz = 64  # forces the first change to open a window
        self.mc = 0

    def push(self, number: float, w: BitWriter) -> None:
        bits = struct.unpack("<Q", struct.pack("<d", number))[0]
        if self.value is None:
            w.write(bits, 64)
            self.value = bits
            self.lz, self.mc = 64, 0
            return
        xored = self.value ^ bits
        if xored == 0:
            w.write(0, 1)  # window KEPT (the reference's explicit choice)
        else:
            lz = min(_lz64(xored), 31)
            tz = _tz64(xored)
            prev_tz = 64 - self.lz - self.mc
            if lz >= self.lz and tz >= prev_tz:
                # fits the standing window — window size unchanged
                w.write(0b10, 2)
                w.write(xored >> prev_tz, 64 - prev_tz - self.lz)
            else:
                meaningful = 64 - tz - lz
                w.write(0b11, 2)
                w.write(lz, 5)
                w.write(meaningful - 1, 6)
                w.write(xored >> tz, meaningful)
                self.lz, self.mc = lz, meaningful
        self.value = bits


class DoubleDecoderLeadTrail:
    """Decoder for :class:`DoubleEncoderLeadTrail` (our extension: the
    reference never wrote one). Mirrors the writer's persistent-window
    state machine exactly."""

    def __init__(self) -> None:
        self.value: int | None = None
        self.lz = 64
        self.mc = 0

    def next(self, r: BitReader) -> float | None:
        if self.value is None:
            bits = r.read(64)
            if bits is None:
                return None
            self.value = bits
            self.lz, self.mc = 64, 0
        else:
            ctl = r.read(1)
            if ctl is None:
                return None
            if ctl == 1:
                sub = r.read(1)
                if sub is None:
                    return None  # truncated mid-record: EOS, not TypeError
                if sub == 0:  # fit in the standing window
                    prev_tz = 64 - self.lz - self.mc
                    payload = r.read(64 - prev_tz - self.lz)
                    if payload is None:
                        return None
                    new_xor = payload << prev_tz
                else:  # explicit new window
                    lz = r.read(5)
                    mc = r.read(6)
                    if lz is None or mc is None:
                        return None
                    meaningful = mc + 1
                    tz = 64 - meaningful - lz
                    payload = r.read(meaningful)
                    if payload is None:
                        return None
                    new_xor = payload << tz
                    self.lz, self.mc = lz, meaningful
                self.value ^= new_xor
        return struct.unpack("<d", struct.pack("<Q", self.value))[0]


# ---------------------------------------------------------------------------
# Compound (ts, value) block API — time_and_value_stream.rs:20-51
# ---------------------------------------------------------------------------


def encode_block(
    timestamps: list[int], values: list[float], header_time: int
) -> tuple[bytes, int]:
    """Interleaved (timestamp record, value record) per point."""
    w = BitWriter()
    te, de = TimestampEncoder(header_time), DoubleEncoder()
    for ts, v in zip(timestamps, values):
        te.push(int(ts), w)
        de.push(float(v), w)
    return w.getvalue()


def encode_blocks_vectorized(epochs, values, header_times, is_start):
    """Encode MANY blocks at once with numpy — bit-identical to calling
    :func:`encode_block` per block, but the per-record work (delta/dod
    bucketing, XOR window decisions, variable-width bit packing) is
    array-parallel across the whole batch instead of a Python loop per
    row. This is the hot path of distributed encode (spark_ops): blocks
    are 2 h of one series (~tens-to-hundreds of rows), so per-row Python
    dominates; batching thousands of blocks into one numpy pass removes
    it.

    Inputs are parallel arrays sorted so each block's rows are
    contiguous and ts-ordered: ``epochs`` int64 seconds, ``values``
    float64, ``header_times`` int64 (2h-aligned, constant within a
    block), ``is_start`` bool (True on each block's first row).

    Returns ``(payloads, nbits, start_idx)``: per-block byte payloads
    (each independently byte-aligned, zero-padded — same as
    BitWriter.getvalue), per-block exact bit counts (int64 array), and
    the index of each block's first row.
    """
    import numpy as np

    epochs = np.asarray(epochs, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    header_times = np.asarray(header_times, dtype=np.int64)
    is_start = np.asarray(is_start, dtype=bool)
    n = len(epochs)
    if n == 0:
        return [], np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    start_idx = np.flatnonzero(is_start)

    def bitlen(x):  # vectorized uint64 bit_length
        x = x.copy()
        res = np.zeros(x.shape, dtype=np.int64)
        for s in (32, 16, 8, 4, 2, 1):
            m = x >= np.uint64(1) << np.uint64(s)
            res[m] += s
            x[m] >>= np.uint64(s)
        return res + x.astype(np.int64)

    # ---- timestamp records: one field per row --------------------------
    # delta at block starts is vs header_time; elsewhere vs prev row.
    # Storing the header delta IN the delta array makes dod = plain diff.
    delta = np.empty(n, dtype=np.int64)
    delta[1:] = epochs[1:] - epochs[:-1]
    delta[is_start] = epochs[is_start] - header_times[is_start]
    first_delta = delta[start_idx]
    out_of_field = (first_delta < 0) | (first_delta >= (1 << 14))
    if out_of_field.any():
        bad = first_delta[out_of_field][0]
        raise ValueError(
            f"first delta {bad} outside [0, 2^14) — header_time "
            "must be the 2h-aligned floor of the first timestamp"
        )
    dod = np.zeros(n, dtype=np.int64)
    dod[1:] = delta[1:] - delta[:-1]

    # control prefix folded into one value: bits concatenate MSB-first,
    # so ('10', 2)+(x, 7) == ((0b10<<7)|x, 9)
    ts_val = np.empty(n, dtype=np.uint64)
    ts_len = np.empty(n, dtype=np.int64)
    zero = dod == 0
    b1 = (dod >= -63) & (dod <= 64) & ~zero
    b2 = (dod >= -255) & (dod <= 256) & ~zero & ~b1
    b3 = (dod >= -2047) & (dod <= 2048) & ~zero & ~b1 & ~b2
    b4 = ~(zero | b1 | b2 | b3)
    ts_val[zero], ts_len[zero] = 0, 1
    ts_val[b1] = ((0b10 << 7) | (dod[b1] + 63)).astype(np.uint64)
    ts_len[b1] = 9
    ts_val[b2] = ((0b110 << 9) | (dod[b2] + 255)).astype(np.uint64)
    ts_len[b2] = 12
    ts_val[b3] = ((0b1110 << 12) | (dod[b3] + 2047)).astype(np.uint64)
    ts_len[b3] = 16
    ts_val[b4] = ((0b1111 << 32) | (dod[b4] & 0xFFFFFFFF)).astype(np.uint64)
    ts_len[b4] = 36
    ts_val[is_start] = first_delta.astype(np.uint64)
    ts_len[is_start] = 14

    # ---- value records: header field + payload field per row -----------
    bits = values.view(np.uint64)
    xored = np.empty(n, dtype=np.uint64)
    xored[1:] = bits[1:] ^ bits[:-1]
    xored[is_start] = bits[is_start]  # encoder state after first push
    prev_xor = np.empty(n, dtype=np.uint64)
    prev_xor[1:] = xored[:-1]
    prev_xor[0] = 0  # unused (row 0 is a start)

    lz_u = 64 - bitlen(xored)  # uncapped
    lz = np.minimum(lz_u, 31)
    lowbit = xored & (~xored + np.uint64(1))
    tz = np.maximum(bitlen(lowbit) - 1, 0)
    plz = 64 - bitlen(prev_xor)
    plowbit = prev_xor & (~prev_xor + np.uint64(1))
    ptz = np.where(plz == 64, 0, np.maximum(bitlen(plowbit) - 1, 0))

    vzero = (xored == 0) & ~is_start
    reuse = (lz >= plz) & (tz >= ptz) & ~vzero & ~is_start
    new = ~(vzero | reuse | is_start)
    meaningful = 64 - tz - lz

    v0 = np.empty(n, dtype=np.uint64)  # header field
    l0 = np.empty(n, dtype=np.int64)
    v1 = np.zeros(n, dtype=np.uint64)  # payload field (len 0 if unused)
    l1 = np.zeros(n, dtype=np.int64)
    v0[is_start] = bits[is_start]
    l0[is_start] = 64
    v0[vzero], l0[vzero] = 0, 1
    v0[reuse], l0[reuse] = 0b10, 2
    v1[reuse] = xored[reuse] >> ptz[reuse].astype(np.uint64)
    l1[reuse] = 64 - ptz[reuse] - plz[reuse]
    v0[new] = ((0b11 << 11) | (lz[new] << 6) | (meaningful[new] - 1)).astype(
        np.uint64
    )
    l0[new] = 13
    v1[new] = xored[new] >> tz[new].astype(np.uint64)
    l1[new] = meaningful[new]

    # ---- pack: interleave [ts, v_header, v_payload, block_pad] ---------
    row_bits = ts_len + l0 + l1
    block_bits = np.add.reduceat(row_bits, start_idx)
    pad = (-block_bits) % 8  # byte-align each block independently
    last_idx = np.concatenate([start_idx[1:] - 1, [n - 1]])
    lens = np.stack([ts_len, l0, l1, np.zeros(n, dtype=np.int64)], axis=1)
    vals = np.stack([ts_val, v0, v1, np.zeros(n, dtype=np.uint64)], axis=1)
    lens[last_idx, 3] = pad
    flat_lens = lens.ravel()
    flat_vals = vals.ravel()
    used = flat_lens > 0
    flat_lens = flat_lens[used]
    flat_vals = flat_vals[used]

    total = int(flat_lens.sum())
    starts = np.concatenate([[0], np.cumsum(flat_lens)[:-1]])
    pos_in_field = np.arange(total, dtype=np.int64) - np.repeat(
        starts, flat_lens
    )
    fvals = np.repeat(flat_vals, flat_lens)
    shifts = (np.repeat(flat_lens, flat_lens) - 1 - pos_in_field).astype(
        np.uint64
    )
    bitarr = ((fvals >> shifts) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bitarr)  # total is a multiple of 8 by padding

    block_bytes = (block_bits + pad) >> 3
    offsets = np.concatenate([[0], np.cumsum(block_bytes)])
    payloads = [
        packed[offsets[i] : offsets[i + 1]].tobytes()
        for i in range(len(start_idx))
    ]
    return payloads, block_bits, start_idx


def _pack_fields(flat_vals, flat_lens, block_bits, pad):
    """Shared bit-packing tail: MSB-first concatenation of variable-width
    fields into per-block byte payloads (identical layout to driving a
    BitWriter per block, incl. per-block zero padding to a byte edge).
    ``flat_vals``/``flat_lens`` are the already-flattened field arrays
    (zero-length fields removed), ``block_bits`` the exact bit count per
    block, ``pad`` the per-block pad widths ALREADY PRESENT as trailing
    zero-fields in the flat arrays."""
    import numpy as np

    total = int(flat_lens.sum())
    starts = np.concatenate([[0], np.cumsum(flat_lens)[:-1]])
    pos_in_field = np.arange(total, dtype=np.int64) - np.repeat(
        starts, flat_lens
    )
    fvals = np.repeat(flat_vals, flat_lens)
    shifts = (np.repeat(flat_lens, flat_lens) - 1 - pos_in_field).astype(
        np.uint64
    )
    bitarr = ((fvals >> shifts) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bitarr)  # total is a multiple of 8 by padding
    block_bytes = (block_bits + pad) >> 3
    offsets = np.concatenate([[0], np.cumsum(block_bytes)])
    return [
        packed[offsets[i] : offsets[i + 1]].tobytes()
        for i in range(len(block_bytes))
    ]


def encode_values_vectorized(values, is_start, policy: str = "xor"):
    """Encode MANY value-only streams at once — bit-identical to driving
    :class:`DoubleEncoder` (``policy="xor"``) or
    :class:`DoubleEncoderLeadTrail` (``policy="leadtrail"``) per block
    over a BitWriter (pinned by tests/test_gorilla_codec.py equivalence
    sweeps). Value-only: no timestamp records — this is the stream shape
    the reference's ``[XORORLEADING]`` question compares
    (``double_stream.rs`` vs ``double_stream_lead_trail.rs``).

    Inputs are parallel arrays with each block's rows contiguous:
    ``values`` float64, ``is_start`` bool (True on each block's first
    row). Returns ``(payloads, nbits, start_idx)`` like
    :func:`encode_blocks_vectorized`.

    Vectorization shape: the shrinking-window policy is fully
    array-parallel (its window derives from the PREVIOUS row's xor — a
    per-row computable). The lead/trail window PERSISTS until a misfit,
    a data-dependent chain no fixed-depth array pass can resolve, so
    that policy keeps one compact Python loop over rows — but only
    integer compares on precomputed arrays (no struct packing, no
    per-bit BitWriter work), with all XOR/lz/tz math and the final bit
    packing still numpy. Measured ~8x over the scalar classes at the
    parity query's sf0.1 shape."""
    import numpy as np

    values = np.asarray(values, dtype=np.float64)
    is_start = np.asarray(is_start, dtype=bool)
    n = len(values)
    if n == 0:
        return [], np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    start_idx = np.flatnonzero(is_start)

    def bitlen(x):  # vectorized uint64 bit_length
        x = x.copy()
        res = np.zeros(x.shape, dtype=np.int64)
        for s in (32, 16, 8, 4, 2, 1):
            m = x >= np.uint64(1) << np.uint64(s)
            res[m] += s
            x[m] >>= np.uint64(s)
        return res + x.astype(np.int64)

    bits = values.view(np.uint64)
    xored = np.empty(n, dtype=np.uint64)
    xored[1:] = bits[1:] ^ bits[:-1]
    xored[is_start] = bits[is_start]
    lz = np.minimum(64 - bitlen(xored), 31)
    lowbit = xored & (~xored + np.uint64(1))
    tz = np.maximum(bitlen(lowbit) - 1, 0)
    meaningful = 64 - tz - lz
    vzero = (xored == 0) & ~is_start

    v0 = np.empty(n, dtype=np.uint64)  # header field
    l0 = np.empty(n, dtype=np.int64)
    v1 = np.zeros(n, dtype=np.uint64)  # payload field (len 0 if unused)
    l1 = np.zeros(n, dtype=np.int64)
    v0[is_start] = bits[is_start]
    l0[is_start] = 64
    v0[vzero], l0[vzero] = 0, 1

    new_hdr = ((0b11 << 11) | (lz << 6) | (meaningful - 1)).astype(np.uint64)
    if policy == "xor":
        prev_xor = np.empty(n, dtype=np.uint64)
        prev_xor[1:] = xored[:-1]
        prev_xor[0] = 0  # unused (row 0 is a start)
        plz = 64 - bitlen(prev_xor)
        plowbit = prev_xor & (~prev_xor + np.uint64(1))
        ptz = np.where(plz == 64, 0, np.maximum(bitlen(plowbit) - 1, 0))
        reuse = (lz >= plz) & (tz >= ptz) & ~vzero & ~is_start
        new = ~(vzero | reuse | is_start)
        v0[reuse], l0[reuse] = 0b10, 2
        v1[reuse] = xored[reuse] >> ptz[reuse].astype(np.uint64)
        l1[reuse] = 64 - ptz[reuse] - plz[reuse]
        v0[new] = new_hdr[new]
        l0[new] = 13
        v1[new] = xored[new] >> tz[new].astype(np.uint64)
        l1[new] = meaningful[new]
    elif policy == "leadtrail":
        # Persistent-window chain (double_stream_lead_trail.rs:63-101):
        # resolved row-by-row over plain Python ints — only integer
        # compares per row; XOR/lz/tz math stayed numpy above and bit
        # packing stays numpy below.
        lz_l = lz.tolist()
        tz_l = tz.tolist()
        xor_l = xored.tolist()
        start_l = is_start.tolist()
        v0_l, l0_l = [0] * n, [0] * n
        v1_l, l1_l = [0] * n, [0] * n
        hdr_l = new_hdr.tolist()
        wlz, wtz, wwidth = 64, 0, 0  # standing window (lz, tz, payload w)
        for i in range(n):
            if start_l[i]:
                wlz, wtz, wwidth = 64, 0, 0
                continue
            if xor_l[i] == 0:
                continue  # repeat record: window KEPT
            li, ti = lz_l[i], tz_l[i]
            if li >= wlz and ti >= wtz:
                v0_l[i], l0_l[i] = 0b10, 2
                v1_l[i] = xor_l[i] >> wtz
                l1_l[i] = wwidth
            else:
                v0_l[i], l0_l[i] = hdr_l[i], 13
                v1_l[i] = xor_l[i] >> ti
                l1_l[i] = 64 - ti - li
                wlz, wtz = li, ti
                wwidth = 64 - wtz - wlz
        mask = ~(vzero | is_start)
        v0[mask] = np.array(v0_l, dtype=np.uint64)[mask]
        l0[mask] = np.array(l0_l, dtype=np.int64)[mask]
        v1[mask] = np.array(v1_l, dtype=np.uint64)[mask]
        l1[mask] = np.array(l1_l, dtype=np.int64)[mask]
    else:
        raise ValueError(f"unknown policy {policy!r}")

    row_bits = l0 + l1
    block_bits = np.add.reduceat(row_bits, start_idx)
    pad = (-block_bits) % 8
    last_idx = np.concatenate([start_idx[1:] - 1, [n - 1]])
    lens = np.stack([l0, l1, np.zeros(n, dtype=np.int64)], axis=1)
    vals = np.stack([v0, v1, np.zeros(n, dtype=np.uint64)], axis=1)
    lens[last_idx, 2] = pad
    flat_lens = lens.ravel()
    flat_vals = vals.ravel()
    used = flat_lens > 0
    payloads = _pack_fields(flat_vals[used], flat_lens[used], block_bits, pad)
    return payloads, block_bits, start_idx


def decode_values(payload: bytes, nbits: int, policy: str = "xor") -> list[float]:
    """Inlined big-int-cursor decode of a value-only stream — identical
    semantics to driving :class:`DoubleDecoder` /
    :class:`DoubleDecoderLeadTrail` over a BitReader (equivalence pinned
    in tests), ~10x faster: each field extraction is one C-level
    shift+mask."""
    acc = int.from_bytes(payload, "big")
    total = len(payload) * 8
    pos = 0
    unpack, pack = struct.unpack, struct.pack
    lead = policy == "leadtrail"
    if policy not in ("xor", "leadtrail"):
        raise ValueError(f"unknown policy {policy!r}")

    out: list[float] = []
    if pos + 64 > nbits:
        return out
    v_bits = (acc >> (total - 64)) & _U64
    pos = 64
    out.append(unpack("<d", pack("<Q", v_bits))[0])
    v_xor = v_bits  # xor-policy state
    wlz, wtz, wwidth = 64, 0, 0  # leadtrail-policy state
    while pos + 1 <= nbits:
        ctl = (acc >> (total - pos - 1)) & 1
        pos += 1
        if ctl:
            if pos + 1 > nbits:
                break
            sub = (acc >> (total - pos - 1)) & 1
            pos += 1
            if sub:  # new window
                if pos + 11 > nbits:
                    break
                lz = (acc >> (total - pos - 5)) & 0x1F
                pos += 5
                meaningful = ((acc >> (total - pos - 6)) & 0x3F) + 1
                pos += 6
                tz = 64 - meaningful - lz
                if pos + meaningful > nbits:
                    break
                new_xor = (
                    (acc >> (total - pos - meaningful))
                    & ((1 << meaningful) - 1)
                ) << tz
                pos += meaningful
                if lead:
                    wlz, wtz, wwidth = lz, tz, meaningful
            else:  # fit in the standing/derived window
                if lead:
                    nb = wwidth
                    sh = wtz
                else:
                    prev_lz = _lz64(v_xor)
                    sh = 0 if prev_lz == 64 else _tz64(v_xor)
                    nb = 64 - sh - prev_lz
                if pos + nb > nbits:
                    break
                new_xor = ((acc >> (total - pos - nb)) & ((1 << nb) - 1)) << sh
                pos += nb
            v_bits ^= new_xor
            if not lead:
                v_xor = new_xor
        out.append(unpack("<d", pack("<Q", v_bits))[0])
    return out


def _check_nbits(nbits: int, payload_len: int) -> None:
    if not 0 <= nbits <= payload_len * 8:
        raise ValueError(
            f"n_bits {nbits} outside the {payload_len}-byte payload"
        )


def decode_block(
    payload: bytes, nbits: int, header_time: int
) -> tuple[list[int], list[float]]:
    """Inlined scalar decode, identical semantics to driving
    TimestampDecoder/DoubleDecoder over a BitReader (which the golden
    and property tests pin) on a well-formed stream. The whole payload
    is one Python big-int cursor: each field extraction is a single
    C-level shift+mask instead of a per-byte Python loop.

    Decoding stops exactly at ``nbits``; a record that crosses it
    raises ``ValueError`` (the BitReader classes instead return None at
    a short read), so a wrong ``nbits`` never yields a silent prefix."""
    _check_nbits(nbits, len(payload))
    # 16 zero bytes of slack: one record (<= 113 bits) may be read past
    # nbits before the per-point check below rejects it
    acc = int.from_bytes(payload, "big") << 128
    total = len(payload) * 8 + 128
    pos = 0
    unpack, pack = struct.unpack, struct.pack

    out_ts: list[int] = []
    out_v: list[float] = []
    ts_val = 0
    delta = 0
    v_bits = 0
    v_xor = 0
    first = True
    while pos < nbits:
        # ---- timestamp record (timestamp_stream.rs:81-121) ----
        if first:
            delta = (acc >> (total - pos - 14)) & 0x3FFF
            pos += 14
            ts_val = (header_time + delta) & _U64
        else:
            ctl = (acc >> (total - pos - 1)) & 1
            pos += 1
            if ctl:
                nb, bias = 7, 63
                if (acc >> (total - pos - 1)) & 1:
                    pos += 1
                    nb, bias = 9, 255
                    if (acc >> (total - pos - 1)) & 1:
                        pos += 1
                        nb, bias = 12, 2047
                        if (acc >> (total - pos - 1)) & 1:
                            nb, bias = 32, 0
                        pos += 1
                    else:
                        pos += 1
                else:
                    pos += 1
                dod = ((acc >> (total - pos - nb)) & ((1 << nb) - 1)) - bias
                pos += nb
                if nb == 32 and dod >= (1 << 31):  # sign-extend (module doc)
                    dod -= 1 << 32
                delta += dod
            ts_val = (ts_val + delta) & _U64
        # ---- value record (double_stream.rs:96-141) ----
        if first:
            v_bits = (acc >> (total - pos - 64)) & _U64
            pos += 64
            v_xor = v_bits
            first = False
        else:
            if (acc >> (total - pos - 1)) & 1:
                pos += 1
                if (acc >> (total - pos - 1)) & 1:  # new window
                    pos += 1
                    lz = (acc >> (total - pos - 5)) & 0x1F
                    pos += 5
                    meaningful = ((acc >> (total - pos - 6)) & 0x3F) + 1
                    pos += 6
                    tz = 64 - meaningful - lz
                    new_xor = (
                        (acc >> (total - pos - meaningful))
                        & ((1 << meaningful) - 1)
                    ) << tz
                    pos += meaningful
                else:  # reuse window (from current xor state)
                    pos += 1
                    prev_lz = _lz64(v_xor)
                    prev_tz = 0 if prev_lz == 64 else _tz64(v_xor)
                    nb = 64 - prev_tz - prev_lz
                    new_xor = (
                        (acc >> (total - pos - nb)) & ((1 << nb) - 1)
                    ) << prev_tz
                    pos += nb
                v_bits ^= new_xor
                v_xor = new_xor
            else:
                pos += 1
        if pos > nbits:
            raise ValueError(
                f"record {len(out_ts)} crosses n_bits ({pos} > {nbits})"
            )
        out_ts.append(ts_val)
        out_v.append(unpack("<d", pack("<Q", v_bits))[0])
    return out_ts, out_v


# Lockstep pays one numpy step per record of the LONGEST block in a
# batch; the scalar loop pays per record of ALL blocks. Measured on
# 720-point blocks of the perfbench generator's series mix (4-core x86
# box, Python 3.11, numpy 1.26, median of 7): a step costs ~60 us plus
# ~0.25 us per active block, a scalar record 1.5-4 us by series kind,
# so the two break even at 17-22 equal blocks of the mix (up to ~40 for
# the cheapest kind alone). decode_timeseries takes the lockstep path
# when sum(n_samples) >= LOCKSTEP_MIN_WIDTH * max(n_samples).
LOCKSTEP_MIN_WIDTH = 24


def _lockstep_tables():
    """Per-record lookup tables of :func:`decode_blocks_vectorized`.

    Timestamp record, keyed by its top 4 bits (timestamp_stream.rs:81-121:
    ``0xxx`` dod 0, ``10xx`` 7-bit field, ``110x`` 9-bit, ``1110`` 12-bit,
    ``1111`` 32-bit): record length, control length, the right shift
    that leaves the field, field mask and bias. The shifts are
    arithmetic, so the 32-bit field comes out sign-extended (mask -1)
    and the biased fields are masked back to unsigned.

    Value record header, keyed by its top 13 bits (``0`` repeat, ``10``
    reuse the window, ``11`` + 5-bit lz + 6-bit meaningful-1): header
    length, new-window width and shift, reuse flag, changes-the-window
    flag, and malformed (a new window with lz + meaningful > 64)."""
    import numpy as np

    ts = np.array(
        [(1, 1, 64, 0, 0)] * 8
        + [(9, 2, 57, 0x7F, 63)] * 4
        + [(12, 3, 55, 0x1FF, 255)] * 2
        + [(16, 4, 52, 0xFFF, 2047), (36, 4, 32, -1, 0)],
        dtype=np.int64,
    ).T
    key = np.arange(1 << 13, dtype=np.int64)
    ctl = key >> 11
    new = ctl == 3
    width = np.where(new, (key & 0x3F) + 1, 0)
    shift = 64 - width - ((key >> 6) & 0x1F)
    value = (
        np.select([new, ctl == 2], [13, 2], 1),
        width,
        np.where(new, shift, 0),
        (ctl == 2).astype(np.int64),
        ctl >= 2,
        new & (shift < 0),
    )
    masks = np.array([(1 << k) - 1 for k in range(64)] + [-1], dtype=np.int64)
    return ts, value, masks


def decode_blocks_vectorized(payloads, nbits, header_times, n_samples):
    """Decode MANY blocks at once, in lockstep — the mirror of
    :func:`encode_blocks_vectorized`, bit-identical to calling
    :func:`decode_block` per block on well-formed blocks.

    Record ``i`` of every block that has one is decoded by the same few
    dozen array ops, so the Python cost is per record of the longest
    block, not per record of all blocks:

    - the payloads are concatenated into one byte buffer with a
      precomputed big-endian 64-bit window per byte offset, so a field
      at any bit cursor is a gather and a few shifts;
    - per-block state (bit cursor, delta, ts, value bits, the xor
      window's tz and width) lives in arrays ordered by ``n_samples``
      descending, so the still-active blocks are always a prefix slice;
    - the timestamp control ladder is a 16-entry lookup on the top 4
      bits, the value header (``0`` / ``10`` / ``11``) an 8192-entry
      lookup on the top 13.

    ``payloads`` is a sequence of bytes-like objects; ``nbits``,
    ``header_times`` and ``n_samples`` are per-block integers. Every
    block must decode to exactly ``n_samples`` records that end exactly
    at ``nbits``; otherwise ``ValueError`` (a record that crosses
    ``nbits``, bits left over, or a malformed record).

    Returns ``(ts, values)``: flat int64 / float64 arrays, blocks in
    input order, each block's records in stream order. Timestamps wrap
    modulo 2^64 like :func:`decode_block`, read as int64.
    """
    import numpy as np

    i64 = np.int64
    nbits = np.asarray(nbits, dtype=i64)
    header_times = np.asarray(header_times, dtype=i64)
    n_samples = np.asarray(n_samples, dtype=i64)
    nblk = len(n_samples)
    if not len(payloads) == len(nbits) == len(header_times) == nblk:
        raise ValueError("payloads, nbits, header_times, n_samples differ in length")
    lens = np.fromiter((len(p) for p in payloads), dtype=i64, count=nblk)
    bad = (nbits < 0) | (nbits > lens * 8)
    if bad.any():
        k = int(np.flatnonzero(bad)[0])
        _check_nbits(int(nbits[k]), int(lens[k]))

    def mismatch(k):  # the scalar decoder names the record that breaks k
        got = len(decode_block(payloads[k], int(nbits[k]), int(header_times[k]))[0])
        raise ValueError(
            f"block {k}: n_bits holds {got} records, n_samples says "
            f"{int(n_samples[k])}"
        )

    if (n_samples < 0).any():
        raise ValueError("negative n_samples")
    # n records take at least 78 + 2 (n - 1) bits: this bounds the work
    # and the buffer below by the payload size
    short = np.flatnonzero((n_samples > 0) & (nbits < 76 + 2 * n_samples))
    if len(short):
        mismatch(int(short[0]))
    out_ts = np.empty(int(n_samples.sum()), dtype=i64)
    out_v = np.empty(len(out_ts), dtype=i64)

    # blocks longest first: the active set at record i is a prefix
    order = np.argsort(-n_samples, kind="stable")
    ns = n_samples[order]
    steps = int(ns[0]) if nblk else 0
    active = np.searchsorted(-ns, -np.arange(steps), "left")
    base = (np.cumsum(n_samples) - n_samples)[order]
    pos = (np.cumsum(lens) - lens)[order] * 8  # global bit cursors
    end = pos + nbits[order]
    malformed = np.zeros(nblk, dtype=bool)

    # a block whose n_bits or n_samples is wrong runs its cursor past its
    # end by at most one record (<= 113 bits) per step, reading other
    # blocks' bits; the padding keeps every such read inside the buffer,
    # and the cursor check after the loop rejects the block
    buf = np.frombuffer(
        b"".join(payloads) + bytes(15 * steps + 24), dtype=np.uint8
    )
    nwin = len(buf) - 8
    win = np.zeros(nwin, dtype=np.uint64)
    for k in range(8):
        win |= buf[k : k + nwin].astype(np.uint64) << np.uint64(56 - 8 * k)
    win = win.view(i64)
    nxt = buf[8:].astype(i64)  # the byte after each window

    (ts_len, ts_ctl, ts_shr, ts_mask, ts_bias), value_tables, masks = (
        _lockstep_tables()
    )
    v_len, v_width, v_shift, v_reuse, v_changes, v_bad = value_tables
    # numpy array-scalar ops cost ~3x array-array ones at these widths:
    # every constant operand is a full-width array, sliced per step
    const = np.array([1, 3, 7, 8, 14, 50, 51, 60, 64, 0x1FFF, 0xF], dtype=i64)
    const = np.repeat(const[:, None], nblk, axis=1)
    pow_lim = masks.view(np.uint64)  # [e - 1]: the largest (e-1)-bit value

    def window(p, c3, c7, c8):  # 64 bits from each bit cursor
        b, s = p >> c3, p & c7
        return (win[b] << s) | (nxt[b] >> (c8 - s))

    def xor_window(x, c1):  # (tz, width) of a window's xor
        # float64 is exact on powers of two; its exponent is exact up to
        # a carry into the next power, which the table compare undoes
        tz = np.frexp((x & -x).astype(np.float64))[1] - c1
        xu = x.view(np.uint64)
        e = np.frexp(xu.astype(np.float64))[1]
        # x == 0 gives bitlen -1 and tz -1: width 0, and a shift by -1
        # moves nothing (numpy shifts outside [0, 64) give 0)
        bitlen = e - (xu <= pow_lim[e - c1])
        return tz, bitlen - tz

    if steps:
        # ---- record 0: 14-bit delta from the header, raw 64-bit value
        m = int(active[0])
        c1, c3, c7, c8, c14, c50, c51, c60, c64, c13b, c15 = const[:, :m]
        p = pos[:m]
        delta = (window(p, c3, c7, c8) >> c50) & 0x3FFF
        ts = header_times[order][:m] + delta
        v_bits = window(p + c14, c3, c7, c8)
        pos[:m] = p + 78
        tz_state, width_state = xor_window(v_bits, c1)
        out_ts[base[:m]] = ts
        out_v[base[:m]] = v_bits
    at = base.copy()  # each block's output slot for the current record
    for i in range(1, steps):
        if active[i] != m:
            m = int(active[i])
            c1, c3, c7, c8, c14, c50, c51, c60, c64, c13b, c15 = const[:, :m]
        p = pos[:m]
        # ---- timestamp record (<= 36 bits)
        b, s = p >> c3, p & c7
        w = win[b] << s  # >= 57 valid bits
        key = (w >> c60) & c15
        field = ((w << ts_ctl[key]) >> ts_shr[key]) & ts_mask[key]
        delta = delta[:m] + (field - ts_bias[key])
        ts = ts[:m] + delta
        # ---- value record: header (<= 13 bits, same window), payload
        tl = ts_len[key]
        hdr = ((w << tl) >> c51) & c13b
        reuse = v_reuse[hdr]
        width = v_width[hdr] + width_state[:m] * reuse
        shift = v_shift[hdr] + tz_state[:m] * reuse
        p = p + tl + v_len[hdr]
        xor = ((window(p, c3, c7, c8) >> (c64 - width)) & masks[width]) << shift
        v_bits = v_bits[:m] ^ xor
        pos[:m] = p + width
        changes = v_changes[hdr]
        tz, wd = xor_window(xor, c1)
        np.copyto(tz_state[:m], tz, where=changes)
        np.copyto(width_state[:m], wd, where=changes)
        malformed[:m] |= v_bad[hdr]
        slot = np.add(at[:m], c1, out=at[:m])
        out_ts[slot] = ts
        out_v[slot] = v_bits
    bad = np.flatnonzero((pos != end) | malformed)
    if len(bad):
        mismatch(int(order[bad[0]]))
    return out_ts, out_v.view(np.float64)
