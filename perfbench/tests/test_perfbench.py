"""Self-test of the benchmark at tiny sizes.

    python -m pytest perfbench/tests -q

Checks that the metric names and units the benchmark prints match
BENCHMARK.json, that the oracle comparison counts one corrupted elevation,
one dropped row and one wrong status, and that the benchmark refuses to
run without the engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
from elevation_service_spark import fixtures, kernels  # noqa: E402


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def test_benchmark_json_is_described_and_well_formed():
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    desc = _load(os.path.join(BENCH, "metrics.json"))
    assert list(desc["end_to_end"]) == [e["name"] for e in bench["end_to_end"]]
    assert list(desc["per_layer"]) == [e["name"] for e in bench["per_layer"]]
    assert {w["name"] for w in bench["workloads"]} <= set(gen.SIZES)
    setup = next(e for e in bench["end_to_end"] if e["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(e["bound"] for e in bench["end_to_end"])


def _corrupt_three(expected, key, value_col, bump):
    """One corrupted value, one dropped row, one wrong status."""
    actual = expected.copy()
    actual.loc[actual.index[1], value_col] = bump(actual.loc[actual.index[1], value_col])
    actual = actual.drop(actual.index[2])
    actual.loc[actual.index[3], "status"] = "BAD_TILE"
    assert oracle.count_failures(expected, expected.copy(), key) == 0
    return actual


def test_failures_counted_on_points():
    _, golden = gen.pages_table(60, seed=5)
    expected = oracle.expected_points(golden.to_pandas())
    ok = expected[expected["status"] == "OK"].reset_index(drop=True)
    actual = _corrupt_three(ok, ["url", "point_idx"], "elevation",
                            lambda e: np.nextafter(e, np.inf))  # one ulp
    assert oracle.count_failures(ok, actual, ["url", "point_idx"]) == 3
    # a matched text that is not byte-identical, and a duplicated row
    worse = ok.copy()
    worse.loc[0, "matched"] = worse.loc[0, "matched"] + " "
    worse = worse._append(worse.iloc[[5]])
    assert oracle.count_failures(ok, worse, ["url", "point_idx"]) == 2


def test_failures_counted_on_documents():
    docs = gen.docs_table(40, seed=5).to_pandas()
    expected = oracle.expected_docs(docs, gen.DEFAULT_MAX_DOC_BYTES)
    assert set(expected["status"]) >= {"OK"}
    ok = expected[expected["status"] == "OK"].reset_index(drop=True)
    actual = _corrupt_three(ok, ["url"], "geojson_out", lambda s: s.replace("0", "1", 1))
    assert oracle.count_failures(ok, actual, ["url"]) == 3


@pytest.mark.parametrize("key", ["N57E011", "N00E000", "S01W001"])
def test_oracle_agrees_with_engine_kernel(key):
    _, sw_lat, sw_lon, size, _ = next(t for t in fixtures.FIXTURE_TILES if t[0] == key)
    grid = fixtures.tile_grid(sw_lat, sw_lon, size).astype(np.float64)
    rng = np.random.default_rng(3)
    lat = sw_lat + rng.uniform(0, 1, 20_000)
    lon = sw_lon + rng.uniform(0, 1, 20_000)
    lat[0], lon[0] = sw_lat + 10.5 / (size - 1), sw_lon + 10.5 / (size - 1)  # void node
    got, _ = kernels.lookup_elevation(grid, sw_lat, sw_lon, lat, lon)
    want, status = oracle.elevations(lat, lon)
    assert (status == "OK").all()
    assert got.view(np.int64).tolist() == want.view(np.int64).tolist()


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=400)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_cache", "_work", "_out", "__pycache__"))
    p = _run(str(tmp_path), "--workload", "crawl_pages", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload,trace", [("crawl_pages", "0"), ("crawl_pages", "1"),
                                            ("hot_tile_cogroup", "1"), ("geojson_docs", "1")])
def test_tiny_run_prints_every_metric(workload, trace):
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--scale", "0.02")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    names = {"0": "end_to_end", "1": "per_layer"}[trace]
    want = {e["name"]: e["unit"] for e in bench[names]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] is not None for v in result["metrics"].values())
