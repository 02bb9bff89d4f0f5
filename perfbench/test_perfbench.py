"""Benchmark-side checks: seeded inputs are reproducible, BENCHMARK.json
names exactly the metrics run.py prints, and compare.py's verdicts.

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from compare import verdict  # noqa: E402
from inputs import make_tables, remap_days, write_tables  # noqa: E402


def _digests(seed: int, out_dir: str) -> dict[str, str]:
    write_tables(make_tables(seed, 0.01), out_dir)
    return {name: hashlib.sha256(open(os.path.join(out_dir, name), "rb").read()).hexdigest()
            for name in sorted(os.listdir(out_dir))}


def test_same_seed_gives_byte_identical_tables(tmp_path):
    first = _digests(7, str(tmp_path / "a"))
    assert len(first) == 10
    assert first == _digests(7, str(tmp_path / "b"))
    other = _digests(8, str(tmp_path / "c"))
    assert other["orders.parquet"] != first["orders.parquet"]
    assert other["region.parquet"] == first["region.parquet"]  # fixed dim


def test_retention_remap_is_seeded_and_covers_the_window():
    a, b = remap_days(3, 90), remap_days(3, 90)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, remap_days(4, 90))
    assert set(a.tolist()) == set(range(90))


def test_benchmark_json_matches_the_printed_metrics():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == [tuple(m) for m in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == list(run.PER_LAYER)


def test_verdicts():
    a = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    faster = [x * 0.8 for x in a]
    assert verdict(a, faster, list(zip(a, faster)), "lower", 0.1) == ("improved", 1.0)
    slower = [x * 1.2 for x in a]
    assert verdict(a, slower, list(zip(a, slower)), "lower", 0.1)[0] == "worse"
    assert verdict(a, a, list(zip(a, a)), "lower", 0.1) == ("unchanged", 0.0)
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(noisy, noisy, list(zip(noisy, noisy)), "lower", 0.1)[0] == "unresolved"
    assert verdict(a, slower, list(zip(a, slower)), "higher", 0.1)[0] == "improved"
