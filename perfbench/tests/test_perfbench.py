"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The two smoke tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import batch, inputs, run  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_inputs(tmp_path):
    for i in range(3):
        assert inputs.sgrf_bytes(7, i) == inputs.sgrf_bytes(7, i)
    assert inputs.query_order(7, list(batch.QUERIES), 1) == inputs.query_order(
        7, list(batch.QUERIES), 1
    )
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.write_tables(7, 0.001, str(a))
    inputs.write_tables(7, 0.001, str(b))
    for t in inputs.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()


def test_other_seed_other_inputs(tmp_path):
    assert inputs.sgrf_bytes(7, 0) != inputs.sgrf_bytes(8, 0)
    names = list(batch.QUERIES)
    orders = {tuple(inputs.query_order(s, names, 1)) for s in range(7, 12)}
    assert len(orders) > 1
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.write_tables(7, 0.001, str(a))
    inputs.write_tables(8, 0.001, str(b))
    assert (a / "events.parquet").read_bytes() != (b / "events.parquet").read_bytes()


def test_query_order_changes_per_pass():
    names = list(batch.QUERIES)
    orders = [inputs.query_order(3, names, p) for p in range(6)]
    assert all(sorted(o) == sorted(names) for o in orders)
    assert len({tuple(o) for o in orders}) > 1


def test_sgrf_layout_matches_engine_encoder():
    from sparkgraft.operators.multimodal import encode_sample_matrix

    mat = inputs.sgrf_matrix(5, 0)
    want = encode_sample_matrix(inputs.sgrf_channels(), inputs.SGRF_RATE_HZ, mat)
    assert inputs.sgrf_bytes(5, 0) == want
    # 16 channels x 3 000 rows: within the reference's 447.2 KB +-10 %.
    assert 0.9 * 447_200 <= len(want) <= 1.1 * 447_200


def test_corrupt_files_are_not_sgrf():
    corrupt = [i for i in range(40) if inputs.is_corrupt(i)]
    assert corrupt == [1, 21]
    assert inputs.sgrf_bytes(5, 1)[:4] != b"SGRF"
    assert len(inputs.sgrf_bytes(5, 1)) == len(inputs.sgrf_bytes(5, 0))


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    v, label = run.tail(xs)
    assert v == 90 and sum(x > v for x in xs) == 10 and label == "p90 of 100"
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")


def test_pass_count_is_fixed_by_seconds():
    """The clock does not decide how many passes a run times, so every
    run of a workload holds the same number of samples."""
    assert run.timed_passes("batch_mix", 16) == 6
    assert run.timed_passes("e1_ingest", 16) == 5
    assert run.timed_passes("batch_mix", 1) == run.MIN_PASSES


def test_host_scale_is_reference_over_trimmed_mean_probe():
    assert run.trimmed_mean([1.0, 3.0, 50.0]) == 2.0
    assert run.trimmed_mean([1.0, 3.0]) == 2.0
    probes = [run.PROBE_REF_S * 1.5, run.PROBE_REF_S * 2.5, run.PROBE_REF_S * 40]
    assert run.host_scale(probes) == 0.5


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    layer = {**run.LAYER_UNITS, **run._per_query_units()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _run(workload: str, trace: int, sf: float = 0.001) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
        "--seconds", "1", "--trace", str(trace), "--sf", str(sf),
    ]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("batch_mix", 1), ("e1_ingest", 0)])
def test_smoke_run_is_correct(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] > 0
    spec = _bench_json()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert list(out["metrics"]) == names
    assert all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_without_checkout_exits_nonzero(tmp_path):
    """A directory holding only the benchmark fails fast, printing no
    result line."""
    import shutil

    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "e1_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_expected_stats_cut_the_transient():
    """The expected E1 stats (oracle SQL in DuckDB) equal a direct numpy
    computation over the samples at least 10 s after the file start;
    file 0 opens with a 10 s run of zeros that must not show."""
    from perfbench import ingest

    import __spark_entry__ as entry

    exp = ingest.expected_stats(4, 0, entry.oracle_sql()["channel_stats"])
    assert sorted(exp) == sorted(ingest.channel_names())
    mat = inputs.sgrf_matrix(4, 0)
    micros = np.round((mat[:, 0] * 86400.0 + inputs.OLE_EPOCH_UNIX) * 1e6)
    kept = mat[micros >= micros.min() + inputs.TRANSIENT_S * 1e6, 1:]
    assert len(kept) >= 1999 and not (mat[:1000, 1:] != 0).any()
    for i, ch in enumerate(ingest.channel_names()):
        assert exp[ch]["min"] == round(float(kept[:, i].min()), 3)
        assert exp[ch]["max"] == round(float(kept[:, i].max()), 3)
        assert abs(exp[ch]["mean"] - kept[:, i].mean()) <= 0.0005 + 1e-9
