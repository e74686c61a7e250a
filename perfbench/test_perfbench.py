"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root. The full runs start one Spark process per case (40 s to
two minutes each on 4 cores)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs as INP
from perfbench.trace import Span, descendants, parse_sql_metric, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_self_time_subtracts_merged_child_cover():
    # root [0, 10]: children [1, 4] and [3, 6] overlap (cover 1..6 = 5 s),
    # child [8, 12] is clipped to the root's end (cover 2 s)
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),
        Span(3, "c", 0, 8.0, 12.0),
        Span(4, "a.leaf", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    assert {s.sid for s in descendants(spans)[0]} == {0, 1, 2, 3, 4}
    assert {s.sid for s in descendants(spans)[1]} == {1, 4}


def test_sql_metric_strings_parse_to_totals():
    assert parse_sql_metric("5,000") == 5000
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n79.0 KiB (19.8 KiB)") == 79 * 1024
    assert parse_sql_metric("total (min, med, max)\n1.3 s (1 ms, 2 ms)") == pytest.approx(1.3)
    assert parse_sql_metric("total (min, med, max)\n810 ms (1 ms)") == pytest.approx(0.81)


@pytest.mark.parametrize("make", [
    lambda seed: INP.universe_rows(seed, 20),
    lambda seed: INP.change_file(seed, 20, 10),
    lambda seed: INP.corpus_rows(seed, 60),
])
def test_inputs_are_a_function_of_the_seed(make):
    assert INP.digest(make(3)) == INP.digest(make(3))
    assert INP.digest(make(3)) != INP.digest(make(4))


def test_planted_duplicates_are_in_the_corpus():
    rows, planted = INP.corpus_rows(5, 100)
    ids = {r[0] for r in rows}
    assert planted["exact"] and planted["near"]
    assert all(set(g) <= ids for g in planted["exact"])
    assert all(a in ids and b in ids for a, b in planted["near"])


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec


def _run(args, cwd=ROOT, timeout=900):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


# per-layer metrics each workload must drive above 0 in a traced run; the
# layers of the other workload must read 0 there
LAYERS_RUN = {
    "bootstrap": [
        "frontier.generation.count", "frontier.schedule.busy_s", "frontier.filter_new_urls.busy_s",
        "seen.filter_unseen.busy_s", "seen.add.busy_s", "seen.flush.busy_s",
        "format_pkg.rows_to_python", "format_pkg.bytes_to_python",
        "snaptable.merge.packages.busy_s", "snaptable.merge_delete.packages.busy_s",
        "snaptable.commits",
        "state.save.calls", "watch.query_overhead_s", "watch.process_batch.self_s",
        "watch.generations_per_batch", "watch.unique_change_ratio",
    ],
    "corpus_dedup": [
        "pipeline.exact.busy_s", "pipeline.minhash.busy_s", "pipeline.ngram_jaccard.busy_s",
        "pipeline.text_stats.busy_s", "pipeline.minhash.verified_ratio",
    ],
}
LAYERS_IDLE = {
    "bootstrap": ("pipeline.",),
    "corpus_dedup": ("frontier.", "seen.", "format_pkg.", "snaptable.", "state.", "watch."),
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _declared()["workloads"]])
def test_run_is_correct_and_prints_declared_metrics(workload, trace):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, p.stdout
    spec = _declared()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
        return
    assert not [k for k in LAYERS_RUN[workload] if values[k] <= 0], values
    assert not [k for k, v in values.items() if k.startswith(LAYERS_IDLE[workload]) and v != 0], \
        values


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "corpus_dedup", "--seed", "0", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert "metrics" not in p.stdout
