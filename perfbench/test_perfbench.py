"""Self-tests of the benchmark's own arithmetic and generator (no Spark):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import hashlib
import os
import statistics

import numpy as np
import pandas as pd
import pytest

import gen
from checks import diff, frame_digest
from spans import Span, self_times
from stats import spread, tail_percentile


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    pct, v = tail_percentile(xs[::-1])
    assert v == 20 and sum(x > v for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) == (100 / 11, 0)


def test_spread_is_interquartile_over_median():
    vals = [10.0, 11, 9, 12, 10, 10.5, 9.5, 11.5, 10, 10]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / med)


def test_self_time_subtracts_merged_children():
    spans = [
        Span("run", 0.0, 10.0, None, "op"),
        Span("a", 1.0, 4.0, 0, "op"),   # overlaps b: parallel branches
        Span("b", 3.0, 6.0, 0, "op"),
        Span("a1", 1.0, 2.0, 1, "op"),
        Span("late", 9.0, 12.0, 0, "op"),  # clipped to its parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])


def test_digest_ignores_row_and_column_order_and_signed_zero():
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.5, -0.0, np.nan], "s": ["a", "b", None]})
    b = a.iloc[[2, 0, 1]][["s", "y", "x"]].copy()
    b["y"] = [np.nan, 0.5, 0.0]
    assert diff(frame_digest(b), frame_digest(a)) is None


def test_digest_tells_int_from_float_and_last_bit():
    a = pd.DataFrame({"x": [1, 2]})
    assert diff(frame_digest(a.astype(float)), frame_digest(a)) is not None
    f = pd.DataFrame({"x": [0.1 + 0.2]})
    assert diff(frame_digest(f), frame_digest(pd.DataFrame({"x": [0.3]}))) is not None


def _tree_sha(d: str) -> str:
    h = hashlib.sha1()
    for root, _dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            if f == "expect.json":
                continue
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path, monkeypatch):
    runs = []
    for sub in ("a", "b"):
        monkeypatch.setattr(gen, "CACHE", str(tmp_path / sub))
        runs.append(gen.cached("convert", 5))
    (d1, e1), (d2, e2) = runs
    assert e1 == e2
    assert _tree_sha(d1) == _tree_sha(d2)


def test_seed_moves_rows_not_content(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE", str(tmp_path))
    d1, e1 = gen.cached("convert", 1)
    d2, e2 = gen.cached("convert", 2)
    assert _tree_sha(os.path.join(d1, "seed_pq")) != _tree_sha(os.path.join(d2, "seed_pq"))
    assert e1["csv_digest"] == e2["csv_digest"]
    assert e1["parquet_digest"] == e2["parquet_digest"]
    assert e1["drift"] != e2["drift"]


def test_manifest_lists_what_a_run_prints():
    import json

    import layers
    import run

    path = os.path.join(os.path.dirname(gen.HERE), "BENCHMARK.json")
    with open(path) as f:
        doc = json.load(f)
    assert [m["name"] for m in doc["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == layers.PER_LAYER
