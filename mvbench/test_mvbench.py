"""Tests of the benchmark's own input generation and checks.

    python -m pytest mvbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from datagen import DATA_DIR, OrderChurn
from oracle import ChangelogOracle, compare_view
from run import tracing_overhead
from tracing import uncovered


def _batches(tmp_path, seed: int, tag: str, n: int = 3, size: int = 300) -> list[str]:
    churn = OrderChurn(seed)
    paths = []
    for i in range(n):
        p = os.path.join(tmp_path, f"{tag}-{i}.parquet")
        churn.batch(size, p)
        paths.append(p)
    return paths


def test_same_seed_gives_byte_identical_batches(tmp_path):
    a = _batches(tmp_path, 7, "a")
    b = _batches(tmp_path, 7, "b")
    for pa_, pb in zip(a, b):
        with open(pa_, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()


def test_other_seed_gives_other_keys(tmp_path):
    a = pd.read_parquet(_batches(tmp_path, 7, "a", n=1)[0])
    b = pd.read_parquet(_batches(tmp_path, 8, "b", n=1)[0])
    assert set(a.o_orderkey) != set(b.o_orderkey)


def test_batches_follow_the_changelog_contract(tmp_path):
    live = set(pq.read_table(os.path.join(DATA_DIR, "orders.parquet")).column(0).to_pylist())
    last_seq = -1
    for path in _batches(tmp_path, 3, "c", n=4, size=500):
        b = pd.read_parquet(path)
        assert len(b) == 500
        assert set(b.__op) <= {"+I", "+U", "-D"}
        assert b.o_orderkey.is_unique
        seq = b.__seq.to_numpy()
        assert seq[0] > last_seq and np.all(np.diff(seq) > 0)
        last_seq = seq[-1]
        ins = set(b.o_orderkey[b.__op == "+I"])
        old = set(b.o_orderkey[b.__op != "+I"])
        assert not ins & live
        assert old <= live
        live = (live - set(b.o_orderkey[b.__op == "-D"])) | ins


def test_oracle_applies_batches_without_the_engine(tmp_path):
    path = _batches(tmp_path, 5, "d", n=1, size=100)[0]
    b = pd.read_parquet(path)
    oracle = ChangelogOracle(DATA_DIR, {"ord": ("orders", ["o_orderkey"])})
    try:
        before = oracle.query("SELECT count(*) AS n FROM ord").n[0]
        oracle.apply("ord", path)
        after = oracle.query("SELECT count(*) AS n FROM ord").n[0]
        upd = b[b.__op == "+U"].iloc[0]
        price = oracle.query(
            f"SELECT o_totalprice FROM ord WHERE o_orderkey = {upd.o_orderkey}"
        ).o_totalprice[0]
    finally:
        oracle.close()
    assert after == before + (b.__op == "+I").sum() - (b.__op == "-D").sum()
    assert price == upd.o_totalprice


@pytest.mark.parametrize(
    "got, ok",
    [
        (1.0 + 1e-12, True),  # an incremental sum in another order
        (1.0 + 1e-6, False),
    ],
)
def test_compare_view_tolerates_only_reassociation(got, ok):
    want = pd.DataFrame({"k": [1, 2], "name": ["a", "b"], "x": [1.0, 2.0]})
    have = pd.DataFrame({"k": [2, 1], "name": ["b", "a"], "x": [2.0, got]})
    assert (compare_view(have, want, ["k"]) is None) == ok
    wrong_name = have.assign(name=["b", "c"])
    assert compare_view(wrong_name, want, ["k"]) is not None


def test_uncovered_subtracts_the_union_of_spans():
    assert uncovered((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)


def test_tracing_overhead_compares_with_untraced_records_of_the_same_engine(tmp_path):
    def record(name, engine, ops, errors=()):
        with open(os.path.join(tmp_path, f"record-{name}.json"), "w") as f:
            json.dump({"engine_sha256": engine, "errors": list(errors),
                       "samples": {"op": ops}}, f)

    record("w-seed1-trace0-1", "e1", [1.0, 2.0, 3.0])  # median 2.0
    record("w-seed2-trace0-2", "e1", [4.0])
    record("w-seed3-trace0-3", "e2", [9.0])  # other engine
    record("w-seed4-trace0-4", "e1", [9.0], errors=["boom"])  # failed run
    record("w-seed5-trace1-5", "e1", [9.0])  # traced run
    record("v-seed6-trace0-6", "e1", [9.0])  # other workload
    got = tracing_overhead(str(tmp_path), "w", {"engine_sha256": "e1"}, 3.5)
    assert got == {"value_s": pytest.approx(0.5), "untraced_runs": 2}
    assert tracing_overhead(str(tmp_path), "w", {"engine_sha256": "e3"}, 3.5) is None
