"""Checks of the benchmark's own inputs and declaration.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import worker  # noqa: E402


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _inputs(d: str, seed: int) -> dict[str, bytes]:
    inputs.make_tables(os.path.join(d, "tables"), seed, 0.001)
    changes = os.path.join(d, "changes")
    os.makedirs(changes)
    for i in range(3):
        inputs.make_change_file(
            os.path.join(changes, f"c-{i}.parquet"), seed, i)
    return {**_bytes(os.path.join(d, "tables")), **_bytes(changes)}


def test_same_seed_gives_identical_files(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert set(a) == {f"{t}.parquet" for t in inputs.TABLES} | {
        f"c-{i}.parquet" for i in range(3)}
    assert a == b


def test_other_seed_gives_other_files(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 8)
    differ = {n for n in a if a[n] != b[n]}
    # region and nation are fixed; every seeded file changes
    assert differ == set(a) - {"region.parquet", "nation.parquet"}


def test_cycle_order_is_a_seeded_permutation():
    orders = [inputs.cycle_order(worker.MIX, 3, c) for c in range(4)]
    assert all(sorted(o) == sorted(worker.MIX) for o in orders)
    assert orders == [inputs.cycle_order(worker.MIX, 3, c) for c in range(4)]
    assert len({tuple(o) for o in orders}) > 1


def test_change_files_continue_ids_and_time(tmp_path):
    import pyarrow.parquet as pq

    a, b = (pq.read_table(inputs.make_change_file(
        str(tmp_path / f"c-{i}.parquet"), 1, i)).to_pydict() for i in range(2))
    assert a["event_id"][-1] + 1 == b["event_id"][0]
    assert a["ts"][-1] < b["ts"][0]
    assert len(a["event_id"]) == inputs.ROWS_PER_CHANGE_FILE


def test_benchmark_json_names_every_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == worker.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == worker.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(worker.WORKLOADS)
