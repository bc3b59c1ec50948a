"""Lockstep batch decode (``decode_blocks_vectorized``) against the
scalar per-block ``decode_block``, and the loud-failure contract both
share: a block decodes to exactly its records, ending exactly at
``n_bits``, or raises ``ValueError`` — never a silent prefix."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gibbon_spark.codec.gorilla import (
    BitWriter,
    decode_block,
    decode_blocks_vectorized,
    encode_block,
    encode_blocks_vectorized,
)

HEADER = 1_600_000_000 - 1_600_000_000 % 7200


def _bits(values) -> list[bytes]:
    return [struct.pack("<d", v) for v in values]


def _encode(blocks):
    """[(ts list, value list[, header])] ->
    (payloads, nbits, header_times, n_samples)."""
    payloads, nbits, headers, ns = [], [], [], []
    for ts, vs, *rest in blocks:
        header = rest[0] if rest else ts[0] - ts[0] % 7200
        payload, nb = encode_block(ts, vs, header)
        payloads.append(payload)
        nbits.append(nb)
        headers.append(header)
        ns.append(len(ts))
    return payloads, nbits, headers, ns


def _assert_lockstep_matches_scalar(blocks):
    payloads, nbits, headers, ns = _encode(blocks)
    ts, vs = decode_blocks_vectorized(payloads, nbits, headers, ns)
    assert ts.dtype == np.int64 and vs.dtype == np.float64
    want_ts, want_vs = [], []
    for p, nb, h in zip(payloads, nbits, headers):
        t, v = decode_block(p, nb, h)
        want_ts += t
        want_vs += v
    assert ts.tolist() == want_ts
    assert _bits(vs.tolist()) == _bits(want_vs)
    # and both are the encoded input, bit for bit
    assert want_ts == [t for b in blocks for t in b[0]]
    assert _bits(want_vs) == _bits([v for b in blocks for v in b[1]])


# values that stress the XOR window: signed zeros, subnormals, xors
# whose leading-zero count exceeds the 5-bit field (capped at 31), and
# full-entropy mantissas
SPECIAL = [
    0.0,
    -0.0,
    5e-324,
    -5e-324,
    2.2250738585072014e-308,
    1.0,
    math.nextafter(1.0, 2.0),
    math.nextafter(math.nextafter(1.0, 2.0), 2.0),
    1.0 + 2.0**-30,
    12.5,
    -12.5,
    math.pi,
    1.0000000000000002e300,
    -1.7976931348623157e308,
]
values = st.one_of(
    st.sampled_from(SPECIAL),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)
# one step per dod bucket, both signs, plus repeats and duplicates;
# the large steps give 32-bit dods of either sign
steps = st.one_of(
    st.just(0),
    st.just(10),
    st.integers(-63, 64),
    st.integers(-255, 256),
    st.integers(-2047, 2048),
    st.integers(-1_000_000, 1_000_000),
)


@st.composite
def block(draw):
    n = draw(st.integers(1, 40))
    header = HEADER + 7200 * draw(st.integers(0, 3))
    t = header + draw(st.integers(0, (1 << 14) - 1))  # the 14-bit first delta
    ts = [t]
    for _ in range(n - 1):
        t += draw(steps)
        ts.append(t)
    vs = []
    for _ in range(n):
        if vs and draw(st.booleans()):
            vs.append(vs[-1])  # a repeat (``0`` record)
        else:
            vs.append(draw(values))
    return ts, vs, header


@settings(max_examples=200, deadline=None)
@given(st.lists(block(), min_size=1, max_size=8))
def test_lockstep_matches_scalar_property(blocks):
    _assert_lockstep_matches_scalar(blocks)


def test_lockstep_every_dod_bucket_and_sign():
    dods = [0, 1, -1, 64, -63, 65, -64, 256, -255, 257, -256, 2048, -2047,
            2049, -2048, 10**6, -(10**6), 2**31 - 1 - 10**6]
    ts = [HEADER + 100, HEADER + 110]
    for d in dods:
        ts.append(ts[-1] + (ts[-1] - ts[-2]) + d)
    assert all(t >= 0 for t in ts)
    vs = [float(i % 3) for i in range(len(ts))]
    _assert_lockstep_matches_scalar([(ts, vs)])


def test_lockstep_unequal_lengths_and_single_point_blocks():
    rng = np.random.default_rng(7)
    blocks = []
    for n in [1, 300, 1, 2, 57, 1, 300, 5]:
        ts = (HEADER + 5 + 10 * np.arange(n) + rng.integers(0, 3, n)).tolist()
        vs = np.round(rng.normal(20, 3, n), 2).tolist()
        blocks.append((ts, vs))
    _assert_lockstep_matches_scalar(blocks)
    _assert_lockstep_matches_scalar([([HEADER], [SPECIAL[i]]) for i in range(6)])


def test_lockstep_special_values_in_one_block():
    # min normal then -max: an all-ones xor, whose 64-bit width a float64
    # rounds up to 2^64; the next two values reuse that window
    all_ones = [2.2250738585072014e-308, -1.7976931348623157e308, 1.5, -3.0]
    vs = SPECIAL + SPECIAL[::-1] + [SPECIAL[2]] * 3 + SPECIAL + all_ones
    ts = [HEADER + 10 * i for i in range(len(vs))]
    _assert_lockstep_matches_scalar([(ts, vs)])


def test_lockstep_empty_batch():
    ts, vs = decode_blocks_vectorized([], [], [], [])
    assert len(ts) == len(vs) == 0


# --- loud failure on a wrong n_bits / n_samples --------------------------


SWEEP_BLOCKS = [
    # every record kind: dod 0 and every bucket, repeat, reuse, new window
    (
        [HEADER + 5, HEADER + 15, HEADER + 25, HEADER + 100, HEADER + 400,
         HEADER + 3000, HEADER + 3000, HEADER + 90000],
        [11.0, 11.0, 10.0, 10.5, -3.25, -3.25, 1e-300, 7.0],
    ),
    # short and regular, like a store block
    (
        [HEADER + 10, HEADER + 70, HEADER + 130, HEADER + 191],
        [1.5, 2.75, 2.75, -8.0],
    ),
]


@pytest.mark.parametrize("ts, vs", SWEEP_BLOCKS)
def test_every_cut_is_a_record_boundary_prefix_or_an_error(ts, vs):
    payload, nbits = encode_block(ts, vs, HEADER)
    ends = [encode_block(ts[:k], vs[:k], HEADER)[1] for k in range(len(ts) + 1)]
    ends[0] = 0
    for cut in range(nbits + 1):
        whole = max(k for k, e in enumerate(ends) if e <= cut)
        if cut in ends:
            got_ts, got_vs = decode_block(payload, cut, HEADER)
            assert got_ts == ts[:whole] and got_vs == vs[:whole]
            l_ts, l_vs = decode_blocks_vectorized([payload], [cut], [HEADER], [whole])
            assert l_ts.tolist() == ts[:whole] and l_vs.tolist() == vs[:whole]
        else:
            with pytest.raises(ValueError, match="crosses n_bits"):
                decode_block(payload, cut, HEADER)
            with pytest.raises(ValueError):
                decode_blocks_vectorized([payload], [cut], [HEADER], [whole])
        if whole < len(ts):  # one record more than the cut holds
            with pytest.raises(ValueError):
                decode_blocks_vectorized([payload], [cut], [HEADER], [whole + 1])


def test_n_bits_past_the_payload_raises():
    payload, nbits = encode_block([HEADER + 1, HEADER + 2], [1.0, 2.0], HEADER)
    too_many = len(payload) * 8 + 1
    with pytest.raises(ValueError, match="outside"):
        decode_block(payload, too_many, HEADER)
    with pytest.raises(ValueError, match="outside"):
        decode_blocks_vectorized([payload], [too_many], [HEADER], [2])


def test_wrong_n_samples_raises_in_a_batch():
    blocks = [([HEADER + i, HEADER + i + 10, HEADER + i + 20], [1.0, 2.0, 2.0])
              for i in range(5)]
    payloads, nbits, headers, ns = _encode(blocks)
    for delta in (-1, 1):
        bad = list(ns)
        bad[3] += delta
        with pytest.raises(ValueError, match="block 3"):
            decode_blocks_vectorized(payloads, nbits, headers, bad)


def test_malformed_window_header_raises_in_both_decoders():
    # a ``11`` record whose lz (31) + meaningful (64) overruns 64 bits
    w = BitWriter()
    w.write(5, 14)
    w.write(struct.unpack("<Q", struct.pack("<d", 1.0))[0], 64)
    w.write(0, 1)  # dod 0
    w.write(0b11, 2)
    w.write(31, 5)
    w.write(63, 6)
    w.write((1 << 64) - 1, 64)
    payload, nbits = w.getvalue()
    with pytest.raises(ValueError):
        decode_block(payload, nbits, HEADER)
    with pytest.raises(ValueError):
        decode_blocks_vectorized([payload], [nbits], [HEADER], [2])


def test_first_delta_must_fit_the_14_bit_field():
    # 2^14 would be stored as 0 by the 14-bit field: both encoders refuse
    # it, and the largest delta that fits round-trips through both decoders
    for delta in (1 << 14, -1):
        with pytest.raises(ValueError, match=r"outside \[0, 2\^14\)"):
            encode_block([HEADER + delta], [1.0], HEADER)
        with pytest.raises(ValueError, match=r"outside \[0, 2\^14\)"):
            encode_blocks_vectorized([HEADER + delta], [1.0], [HEADER], [True])
    ts, vs = [HEADER + (1 << 14) - 1, HEADER + (1 << 14) + 59], [1.5, 2.5]
    payloads, nbits, starts = encode_blocks_vectorized(
        ts, vs, [HEADER, HEADER], [True, False]
    )
    assert starts.tolist() == [0]
    assert (payloads[0], nbits[0]) == encode_block(ts, vs, HEADER)
    assert decode_block(payloads[0], int(nbits[0]), HEADER) == (ts, vs)
    _assert_lockstep_matches_scalar([(ts, vs, HEADER)])
