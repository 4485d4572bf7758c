"""Fast tests of the benchmark itself: every workload on tiny inputs
prints every metric with its unit, a planted wrong expected hash is
counted as a failed operation, a checkout without the program fails
without a result, and span self time is computed as documented.

Run: python3 -m pytest perfbench/tests -q   (about seven minutes on 4 cores)
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from tracing import Spans  # noqa: E402


def _run(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload",
                         ["corpus", "ingest", "relational", "royalties_etl"])
def test_every_end_to_end_metric_with_unit(workload):
    rc, lines = _run("--workload", workload, "--seed", "7", "--seconds",
                     "0.1", "--trace", "0", "--tiny")
    assert rc == 0
    out = _result(lines)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in out["metrics"].values())


# the layers each listed workload must exercise in its traced run
TRACED_LAYERS = {
    "corpus": ("exec.jobs", "plans.exec_s", "caching.release_s"),
    "ingest": ("exec.jobs", "streaming.epoch_jobs", "pipelines.write_s",
               "pipelines.files_written", "pipelines.read_files_listed",
               "self.streaming_s", "self.pipelines_s"),
}


@pytest.mark.parametrize("workload", sorted(TRACED_LAYERS))
def test_traced_run_emits_every_layer_metric(workload):
    rc, lines = _run("--workload", workload, "--seed", "7", "--seconds",
                     "0.1", "--trace", "1", "--tiny")
    assert rc == 0
    out = _result(lines)
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.LAYER_UNITS
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert all(m[k] > 0 for k in TRACED_LAYERS[workload])
    assert any(line.startswith("per-layer self time") for line in lines)


def test_failed_operations_are_left_out_of_times_and_rows():
    import workloads

    ok = {"name": "q1", "kind": "epoch", "ok": True, "wall": 2.0,
          "release_s": 1.0, "rows": 5}
    bad = {"name": "q2", "kind": "epoch", "ok": False, "wall": 0.0,
           "release_s": 1.0, "rows": 7}
    passes = [{"ops": [ok, bad]}]
    assert workloads.QueryWorkload.pass_wall(None, passes) == 3.0
    assert workloads.IngestWorkload.rows_per_s(None, passes) == 5 / 2.0


def test_planted_wrong_hash_counts_as_failed(tmp_path):
    import expected
    import workloads

    exp = expected.load()
    entries = exp["corpus"][str(workloads.TINY_SF)]
    name = next(n for n, e in entries.items() if "hash" in e)
    entries[name]["hash"] = "0" * 16
    planted = tmp_path / "expected.json"
    planted.write_text(json.dumps(exp))
    rc, lines = _run("--workload", "corpus", "--seed", "7", "--seconds",
                     "0.1", "--trace", "0", "--tiny", "--expected",
                     str(planted))
    assert rc == 0
    out = _result(lines)
    assert out["failed"] > 0 and not out["correct"]
    assert out["metrics"]["ok_frac"]["value"] < 1.0
    assert any(line.startswith(f"FAILED {name}") for line in lines)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    rc, lines = _run("--workload", "corpus", "--seed", "1", "--seconds",
                     "1", "--trace", "0", cwd=tmp_path)
    assert rc != 0
    assert not any(line.startswith("{\"correct\"") for line in lines)


def test_self_time_charges_the_deepest_open_span():
    s = Spans()
    s.add("op", "plans", 0.0, 10.0, None)
    s.add("job a", "spark", 1.0, 4.0, 0)
    s.add("job b", "spark", 3.0, 6.0, 0)  # overlaps a: counted once
    s.add("stage", "spark", 1.0, 2.0, 1)
    s.add("other", "caching", 20.0, 21.0, None)
    got = s.self_time_by_layer()
    assert got == pytest.approx({"plans": 5.0, "spark": 5.0, "caching": 1.0})
    assert s.self_time_by_layer(within=0) == pytest.approx(
        {"plans": 5.0, "spark": 5.0})
