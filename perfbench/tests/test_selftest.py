"""Self-test of the benchmark at a tiny size (200 conversations, 1000 for
explain).

    python3 -m pytest perfbench/tests -q

Runs perfbench/run.py with the command line BENCHMARK.json describes,
from the checkout root, and checks the output contract: every end-to-end
metric of BENCHMARK.json prints with its unit, no op fails, and the traced
run reports every per-layer metric. Each Spark run takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
SEED = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# layer report names each workload's traced run must write (beside the
# session.*, host.* and trace.* names every traced run prints)
SERVE_CLASSES = ["single", "multi", "msm", "prefix", "exclude", "filter"]
EXPLAIN_LAYERS = [
    "operators.classify.classify_percentile_ms",
    "operators.diff.diff_ms.low", "operators.diff.diff_ms.high",
    "operators.diff.jobs_per_op", "operators.diff.shuffle_write_bytes",
    "sql.interface.execute_ms", "sql.interface.collect_ms",
]
LAYERS = {
    "build": [
        "index.tokenize.turn_features_ms",
        "index.tokenize.partial_postings_ms",
        "index.tokenize.partial_postings_rows",
        "index.build.build_index_ms", "index.build.phase.encode_write_ms",
        "index.build.detect_hot_terms_ms", "index.build.hot_terms",
        "index.codec.decode_mb_per_s", "index.codec.encode_mb_per_s",
        "index.codec.index_bytes",
        "index.codec.index_bytes_per_input_byte",
    ] + EXPLAIN_LAYERS,
    "serve": ["index.bm25.read_index_ms", "index.bm25.match_ids_ms",
              "index.bm25.batch_ms_per_query"]
    + [f"index.bm25.topk_ms.{c}" for c in SERVE_CLASSES]
    + [f"index.bm25.jobs.{c}" for c in SERVE_CLASSES],
    "update": ["index.build.update_index_ms", "index.build.delete_docs_ms",
               "index.build.update_shuffle_write_bytes",
               "index.build.compact_index_ms",
               "index.bm25.segmented_topk_ms", "index.codec.index_bytes",
               "index.codec.index_bytes_per_input_byte"],
    "explain": EXPLAIN_LAYERS,
}


def bench(workload: str, trace: int) -> tuple[dict, list]:
    # the explain check (browser on top, nothing with more attributes
    # above it) holds only with enough outliers that min_support keeps out
    # combinations of a handful of rows: 1000 conversations give ~170
    convs = 1000 if workload == "explain" else 200
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(SEED), "--seconds", "2",
               "--trace", str(trace), "--convs", str(convs)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def check_result(res: dict, names: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload",
                         [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    res, lines = bench(workload, trace=0)
    check_result(res, SPEC["end_to_end"])
    record = json.loads(next(l for l in lines if l.startswith("record "))[7:])
    assert record["error_rate"] == 0
    assert record["host"]["setup_phases"]


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced_run_reports_every_layer(workload):
    res, lines = bench(workload, trace=1)
    check_result(res, SPEC["per_layer"])
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"trace-{workload}-seed{SEED}.json")) as f:
        report = json.load(f)
    missing = [n for n in LAYERS[workload] if report["layers"].get(n) is None]
    assert not missing
    spans = report["spans"]
    assert spans and all({"name", "start", "end", "parent", "op"} <= set(s)
                         for s in spans)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        RUN + ["--workload", "build", "--seed", "1", "--seconds", "1",
               "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
