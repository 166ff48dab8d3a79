"""Tests of the benchmark itself.

The pure helpers are tested directly. The smoke tests run one short
pass of each workload, untraced and traced, and check that every
metric BENCHMARK.json names is emitted with its unit. They start a
Spark JVM each (about a minute apiece on 4 cores):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

from run import END_TO_END, PER_LAYER, tail  # noqa: E402
from tracing import parse_sql_metric, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def test_benchmark_json_matches_the_emitted_metrics():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == PER_LAYER


def test_tail_keeps_ten_samples_beyond_it():
    values = [float(i) for i in range(100)]
    value, q = tail(values)
    assert q == 0.9 and value == 89.0  # nearest rank: 10 samples above
    assert tail([1.0, 2.0, 4.0, 5.0]) == (3.0, 0.5)  # too few samples: the median


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_parse_sql_metric_units():
    assert parse_sql_metric("total (min, med, max)\n13.5 s (3.2 s, 3.5 s, 3.5 s)") == 13.5
    assert parse_sql_metric("total (min, med, max)\n512.0 KiB (1 KiB, 2 KiB)") == 0.5
    assert parse_sql_metric("250 ms") == 0.25


def test_inputs_hold_every_table_the_oracle_reads():
    from oracle import TABLES
    from run import DATA_DIR

    for t in TABLES:
        assert os.path.isfile(os.path.join(DATA_DIR, "sf0.01", f"{t}.parquet"))
    assert os.path.isfile(os.path.join(DATA_DIR, "sf0.1", "embeddings.parquet"))


def test_regime_guard_reads_the_gate_constant(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceapp_spark.operators.similarity import ANN_GEMM_MIN_ROWS
    from workloads import _codegen_regime_guard

    for n in (ANN_GEMM_MIN_ROWS - 1, ANN_GEMM_MIN_ROWS):
        d = tmp_path / str(n)
        d.mkdir()
        pq.write_table(pa.table({"vec_id": list(range(n))}), str(d / "embeddings.parquet"))
        if n < ANN_GEMM_MIN_ROWS:
            _codegen_regime_guard("w", None, str(d))
        else:
            with pytest.raises(RuntimeError, match="regime guard"):
                _codegen_regime_guard("w", None, str(d))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_one_pass_emits_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "olap_warm":
        assert result["metrics"]["staging.writes"]["value"] == 0
        assert result["metrics"]["arrow.sent_mb"]["value"] == 0
    else:
        assert result["metrics"]["staging.writes"]["value"] > 0
