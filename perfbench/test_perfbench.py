"""Tests of the benchmark's own code: the seeded generator and the checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def _tree_digest(tmp_path, name: str, seed: int) -> dict[str, str]:
    """Write the base tree, its 3x replica and eight bridge slices; hash
    every file."""
    base = gen.base_tree(seed, 0.001)
    out = tmp_path / name
    gen.write_tree(base, str(out / "base"))
    gen.write_tree(gen.replicate(base, 3), str(out / "rep"))
    for i, tables in enumerate(gen.bridge_slices(base, gen.slice_sizes(seed, 8, 40, 5, 200))):
        gen.write_tree(tables, str(out / f"slice-{i}"))
    return {
        os.path.relpath(os.path.join(d, f), out): hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for d, _, files in os.walk(out)
        for f in files
    }


def test_same_seed_gives_identical_bytes(tmp_path):
    assert _tree_digest(tmp_path, "a", 7) == _tree_digest(tmp_path, "b", 7)


def test_two_seeds_differ(tmp_path):
    a = _tree_digest(tmp_path, "a", 7)
    b = _tree_digest(tmp_path, "b", 8)
    assert a.keys() == b.keys()
    differing = [k for k in a if a[k] != b[k]]
    # region and nation are fixed; every generated table differs.
    assert sorted(k for k in a if a[k] == b[k]) == ["base/nation.parquet", "base/region.parquet",
                                                    "rep/nation.parquet", "rep/region.parquet"]
    assert differing


def test_replicas_shift_keys_and_keep_joins():
    base = gen.base_tree(3, 0.001)
    rep = gen.replicate(base, 2)
    assert rep["lineitem"].num_rows == 2 * base["lineitem"].num_rows
    orders = set(rep["orders"]["o_orderkey"].to_pylist())
    assert set(rep["lineitem"]["l_orderkey"].to_pylist()) <= orders
    assert max(orders) >= gen.REPLICA_SHIFT


def test_bridge_slices_are_time_ordered_and_sized():
    base = gen.base_tree(3, 0.001)
    sizes = gen.slice_sizes(3, 6, 40, 5, 200)
    slices = gen.bridge_slices(base, sizes)
    assert [s["events"].num_rows for s in slices] == sizes
    for s in slices:
        ts = s["events"]["ts"].to_pylist()
        assert ts == sorted(ts)


def test_check_rejects_altered_cell_and_dropped_row():
    check.self_test()
    want = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert check.compare(want, want.copy()) is None
    assert check.compare(want.assign(b=["x", "z"]), want) is not None
    assert check.compare(want.iloc[:1], want) is not None


def test_bridge_counts_follow_the_request_rules():
    # Day numbers 0 (refused, RESOLVED, unrouted), 1, 7 (RESOLVED), 11
    # (unrouted): one request per day plus the RESOLVED and unrouted ones.
    days = pd.to_datetime(["1995-01-01", "1995-01-02", "1995-01-02", "1995-01-08", "1995-01-12"])
    counts = check.bridge_counts(pd.DataFrame({"event_id": [1]}), pd.DataFrame({"o_orderdate": days}))
    assert counts["requests"] == 4 + 2 + 2
    assert counts["admitted_requests"] == 3 + 1 + 2
    assert counts["order_messages"] == 4
    assert counts["resolved_messages"] == 1


@pytest.mark.parametrize("name", ["sink_exactly_once_manifest", "stream_http_ingest"])
def test_bridge_property_catches_lost_rows(name):
    got = pd.DataFrame({"event_type": ["a"], "n": [2], "rejected_unauthorized": [3]})
    assert check.bridge_property(name, got, {"events": 2}) is None
    assert check.bridge_property(name, got, {"events": 3}) is not None
