"""The benchmark's own tests: seeded inputs, the output comparison and
the tail-percentile rule.  Run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from meters import tail  # noqa: E402
from workloads import BrokerWorkload, broker_plan  # noqa: E402


def _digests(path) -> dict:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


def test_equal_seeds_give_identical_bytes(tmp_path):
    gen.write_tables(tmp_path / "a", 7, events=3000, customers=150)
    gen.write_tables(tmp_path / "b", 7, events=3000, customers=150)
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert sorted(a) == ["events.parquet", "lineitem.parquet", "orders.parquet"]
    assert a == b


def test_other_seeds_give_other_inputs(tmp_path):
    gen.write_tables(tmp_path / "a", 7, events=3000, customers=150)
    gen.write_tables(tmp_path / "b", 8, events=3000, customers=150)
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert all(a[name] != b[name] for name in a)


def test_cache_is_per_seed_and_reused(tmp_path):
    first = gen.cached_tables(str(tmp_path), 3, events=1000, customers=150)
    stamp = os.path.getmtime(os.path.join(first, "events.parquet"))
    again = gen.cached_tables(str(tmp_path), 3, events=1000, customers=150)
    other = gen.cached_tables(str(tmp_path), 4, events=1000, customers=150)
    assert again == first and other != first
    assert os.path.getmtime(os.path.join(again, "events.parquet")) == stamp


def test_broker_plan_is_a_function_of_the_seed():
    def plan(seed):
        return json.dumps(broker_plan(seed, 5, **BrokerWorkload.ROUND))

    assert plan(11) == plan(11)
    assert plan(11) != plan(12)


def test_compare_ignores_row_order_and_column_case():
    engine = pd.DataFrame({"K": [2, 1], "v": [0.1 + 0.2, 1.5]})
    oracle = pd.DataFrame({"k": [1, 2], "v": [1.5, 0.3]})
    assert checks.compare(engine, oracle) is None


def test_compare_reports_a_wrong_value_and_a_missing_row():
    engine = pd.DataFrame({"k": [1, 2], "v": [1.5, 0.4]})
    oracle = pd.DataFrame({"k": [1, 2], "v": [1.5, 0.3]})
    assert "column 'v'" in checks.compare(engine, oracle)
    assert "rowcount" in checks.compare(engine.head(1), oracle)


def test_tail_takes_the_highest_percentile_with_ten_samples_beyond():
    assert tail(range(100))[0] == 90.0
    assert tail(range(1000))[0] == 99.0
    assert tail(range(5))[0] == 50.0
