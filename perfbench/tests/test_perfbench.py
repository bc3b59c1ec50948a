"""The benchmark's own tests: deterministic inputs, a metric table that
matches BENCHMARK.json, and checkers that catch broken outputs.

None of them starts Spark.
Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import checks, inputs, workloads  # noqa: E402


def _digest(arrays: dict[str, np.ndarray]) -> str:
    h = hashlib.sha256()
    for k in sorted(arrays):
        h.update(k.encode())
        h.update(np.ascontiguousarray(arrays[k]).tobytes())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_series():
    a = inputs.make_windows(7, 50, range(3))
    b = inputs.make_windows(7, 50, range(3))
    c = inputs.make_windows(8, 50, range(3))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_same_seed_gives_identical_query_sequence_and_registry_order():
    assert inputs.query_sequence(3, 100, 12, 50) == inputs.query_sequence(3, 100, 12, 50)
    assert inputs.registry_order(3) == inputs.registry_order(3)
    assert inputs.registry_order(3) != inputs.registry_order(4)
    assert sorted(inputs.registry_order(3)) == sorted(inputs.REGISTRY_SLICE)


def test_registry_slice_is_registered_and_covers_every_family():
    import __spark_entry__

    registered = __spark_entry__.queries()
    assert set(inputs.REGISTRY_SLICE) <= set(registered)
    families = {inputs.family(n) for n in inputs.REGISTRY_SLICE}
    assert families == {f for f, _ in inputs.FAMILIES} | {"rest"}


def test_same_seed_gives_byte_identical_registry_tables(tmp_path):
    from tools.gen_scale_data import gen_all

    digests = []
    for d in ("a", "b"):
        gen_all(0.001, str(tmp_path / d), seed=5)
        files = sorted(os.listdir(tmp_path / d))
        digests.append([hashlib.sha256((tmp_path / d / f).read_bytes()).hexdigest() for f in files])
    assert digests[0] == digests[1]


def test_generator_covers_the_codec_cost_inputs():
    pts = inputs.make_window(1, 100, 0)
    kinds = inputs.series_kinds(1, 100)
    assert np.bincount(kinds).tolist() == [30, 30, 35, 5]
    ts = pts["ts"].reshape(100, -1)
    assert np.all(np.diff(ts, axis=1) > 0)
    dod = np.diff(np.diff(ts, axis=1), axis=1)
    assert 0.02 < (dod != 0).mean() < 0.06  # jitter reaches non-zero dod buckets


def test_generator_matches_the_gorilla_paper_figures():
    """About 96 % of timestamps with a zero delta-of-delta, about 51 % of
    values equal to the previous one, and a bit rate between the paper's
    1.37 bytes per point and its per-bucket figures (about 17 bits)."""
    pts = inputs.make_window(3, 200, 0)
    ts, value = pts["ts"].reshape(200, -1), pts["value"].reshape(200, -1)
    assert 0.94 <= (np.diff(np.diff(ts, axis=1), axis=1) == 0).mean() <= 0.97
    assert 0.48 <= (value[:, 1:] == value[:, :-1]).mean() <= 0.54
    _, nbits, _, ht = _store_blocks(pts)
    assert 11.0 <= nbits.sum() / len(ht) <= 18.0


def test_metric_table_matches_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def _store_blocks(points):
    from gibbon_spark.codec.gorilla import encode_blocks_vectorized

    ht = points["ts"] - points["ts"] % inputs.BLOCK_S
    is_start = np.ones(len(ht), dtype=bool)
    is_start[1:] = (points["sid"][1:] != points["sid"][:-1]) | (ht[1:] != ht[:-1])
    payloads, nbits, starts = encode_blocks_vectorized(points["ts"], points["value"], ht, is_start)
    return payloads, nbits, starts, ht


def _decode_all(payloads, nbits, starts, ht, sid):
    from gibbon_spark.codec.gorilla import decode_block

    out_sid, out_ts, out_v = [], [], []
    for i, p in enumerate(payloads):
        ts, v = decode_block(p, int(nbits[i]), int(ht[starts[i]]))
        out_sid += [sid[starts[i]]] * len(ts)
        out_ts += ts
        out_v += v
    return np.array(out_sid), np.array(out_ts, dtype=np.int64), np.array(out_v)


def test_round_trip_check_catches_one_flipped_payload_bit():
    pts = inputs.make_window(2, 20, 0)
    payloads, nbits, starts, ht = _store_blocks(pts)
    assert checks.multiset_problems(*_decode_all(payloads, nbits, starts, ht, pts["sid"]), pts) == []

    broken = list(payloads)
    raw = bytearray(broken[3])
    raw[len(raw) // 2] ^= 0x10
    broken[3] = bytes(raw)
    try:
        problems = checks.multiset_problems(*_decode_all(broken, nbits, starts, ht, pts["sid"]), pts)
    except ValueError:  # a truncated record is also a failed round trip
        problems = ["decode raised"]
    assert problems


def test_aggregate_checks_catch_a_wrong_answer():
    pts = inputs.make_windows(4, 10, range(2))
    names = inputs.series_names(10)
    start, end = inputs.T0, inputs.T0 + inputs.BLOCK_S

    want = checks.point_ref(pts, 3, start, end)
    assert checks.dict_problems(dict(want), want) == []
    assert checks.dict_problems({**want, "max_value": np.nextafter(want["max_value"], np.inf)}, want)
    assert checks.dict_problems({**want, "n_samples": want["n_samples"] - 1}, want)

    rng = checks.range_ref(pts, names, start, end)
    assert checks.frame_problems(rng.sample(frac=1.0, random_state=0), rng, ["series_id"]) == []
    wrong = rng.copy()
    wrong.loc[4, "last_value"] += 0.01
    assert checks.frame_problems(wrong, rng, ["series_id"])

    roll = checks.rollup_ref(pts, names)
    noisy = roll.assign(avg_value=roll["avg_value"] * (1 + 1e-13))
    keys = ["series_id", "hour"]
    assert checks.frame_problems(noisy, roll, keys, approx=("avg_value",)) == []
    wrong = roll.copy()
    wrong.loc[0, "avg_value"] += 0.5
    assert checks.frame_problems(wrong, roll, keys, approx=("avg_value",))
    wrong = roll.copy()
    wrong.loc[1, "n_samples"] += 1
    assert checks.frame_problems(wrong, roll, keys, approx=("avg_value",))
    assert checks.frame_problems(roll.iloc[1:], roll, keys, approx=("avg_value",))


@pytest.mark.parametrize("bad", ["series", "ts"])
def test_round_trip_check_catches_misplaced_points(bad):
    pts = inputs.make_window(6, 5, 0)
    sid, ts = pts["sid"].copy(), pts["ts"].copy()
    if bad == "series":
        sid[10] = (sid[10] + 1) % 5
    else:
        ts[10] += 1
    assert checks.multiset_problems(sid, ts, pts["value"], pts)
