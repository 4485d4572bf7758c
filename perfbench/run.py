"""Repository benchmark: one seeded workload, measured from outside the
program, with every timed result checked.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 5 --trace 0

A run sets up three times (session build + warm scan of the workload's
tables) and keeps the median, builds the workload's state, runs untimed
warm passes, then runs passes of the workload until ``--seconds`` have
elapsed. With ``--trace 1`` it then restarts the session with the Spark
event log on, runs one untimed pass and a second window of the same
length with one job group per operation, nests Spark's jobs and stages
under the benchmark's spans, and reports per-layer metrics and self time
instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A record of the run (box state, seed, commit, every operation) is
written under ``.perfbench/runs/``. See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
if str(HERE) not in sys.path:
    sys.path.insert(0, str(HERE))

import bench as repo_bench  # noqa: E402  box-state probes shared with bench.py
import expected  # noqa: E402
import workloads  # noqa: E402
from tracing import (  # noqa: E402
    ProcTree,
    Spans,
    job_stage_totals,
    nest_jobs,
    read_event_log,
)

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "op_p50_s": "s",
    "rows_per_s": "rows/s", "peak_rss_mb": "MB", "ok_frac": "frac",
}
LAYER_UNITS = {
    "session.build_s": "s", "sources.warm_scan_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.exec_s": "s",
    "plans.result_rows": "rows", "plans.result_bytes": "bytes",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.core_busy_frac": "frac",
    "exec.stage_skew_max": "ratio",
    "cpu.jvm_s": "s", "cpu.pyworker_s": "s", "cpu.driver_py_s": "s",
    "caching.release_s": "s", "caching.persisted_rdds_at_release": "count",
    "streaming.ann.epoch_s": "s",
    "streaming.epoch_jobs": "count", "streaming.epoch_files_written": "count",
    "streaming.state_bytes_per_input_byte": "ratio",
    "pipelines.build_s": "s", "pipelines.write_s": "s",
    "pipelines.files_written": "count", "pipelines.bytes_per_row": "bytes/row",
    "pipelines.read_files_listed": "count",
    "self.session_s": "s", "self.sources_s": "s", "self.plans_s": "s",
    "self.caching_s": "s", "self.streaming_s": "s", "self.pipelines_s": "s",
    "self.spark_s": "s", "self.bench_s": "s",
    "trace.overhead_s": "s",
}
N_SETUPS = 3


class Bench:
    """Run-wide state the workloads read: where to write, the seed, the
    span recorder, the expected outputs and whether tracing is on."""

    def __init__(self, args, work: Path, spans: Spans) -> None:
        self.work = work
        self.seed = args.seed
        self.tiny = args.tiny
        self.spans = spans
        self.traced = False
        self.expected = expected.load(Path(args.expected)) if args.expected \
            else expected.load()


class Runner:
    """Session lifecycle and measurement windows of one run."""

    def __init__(self, b: Bench, wl, seconds: float, proc: ProcTree) -> None:
        self.b, self.wl, self.seconds, self.proc = b, wl, seconds, proc
        self.spark = None
        self.session_walls: list[float] = []
        self.scan_walls: list[float] = []
        self.state_s = 0.0
        self.warm: list[dict] = []
        self.windows: list[dict] = []
        self.event_dir = b.work / "eventlog" / b.spans.run_id

    def _session(self, extra_conf=None) -> None:
        from etl_transparencia_sergipe_spark.session import get_spark
        from etl_transparencia_sergipe_spark.sources.catalog import load_table

        spans = self.b.spans
        with spans.span("session", "session") as s:
            self.spark = get_spark(f"perfbench-{self.wl.name}",
                                   extra_conf=extra_conf)
        with spans.span("warm scan", "sources") as w:
            for t in self.wl.tables:
                load_table(self.spark, t, str(self.wl.data_dir)).count()
        self.session_walls.append(s["end"] - s["start"])
        self.scan_walls.append(w["end"] - w["start"])

    def _warm(self, idx: int) -> None:
        t0 = time.perf_counter()
        self.warm.append(self.wl.run_pass(self.spark, idx))
        self.warm[-1]["run_s"] = time.perf_counter() - t0
        self.wl.check_pass(self.spark, self.warm[-1])
        self.cleanup()

    def setup(self) -> None:
        spans = self.b.spans
        for i in range(N_SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with spans.span(f"setup {i}", "bench"):
                self._session()
        with spans.span("state", "bench") as st:
            self.wl.build_state(self.spark)
        self.state_s = st["end"] - st["start"]
        for i in range(self.wl.warm_passes):
            self._warm(-1 - i)

    def setup_s(self) -> float:
        setups = [s + w for s, w in zip(self.session_walls[:N_SETUPS],
                                        self.scan_walls[:N_SETUPS])]
        warm = self.warm[:self.wl.warm_passes]
        return statistics.median(setups) + self.state_s + sum(
            p["run_s"] for p in warm)

    def window(self) -> dict:
        """Closed loop: passes until ``--seconds`` have elapsed (at least
        one), each checked after it ends. Peak memory is tracked per pass,
        from a cleanup before it, so it reflects the steady state rather
        than how far set-up happened to grow the heap."""
        cpu0 = self.proc.cpu_split()
        passes = []
        idx = 1 + sum(len(w["passes"]) for w in self.windows)
        with self.b.spans.span("window", "bench") as win:
            t0 = time.perf_counter()
            while not passes or time.perf_counter() - t0 < self.seconds:
                self.proc.reset_peak()
                rec = self.wl.run_pass(self.spark, idx + len(passes),
                                       t0 + self.seconds if passes else None)
                rec["peak_rss_kb"] = self.proc.peak_rss_kb
                self.wl.check_pass(self.spark, rec)
                self.cleanup()
                passes.append(rec)
        cpu1 = self.proc.cpu_split()
        out = {"passes": passes, "span": win["id"],
               "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}}
        self.windows.append(out)
        return out

    def traced_window(self) -> dict:
        self.spark.stop()
        self.event_dir.mkdir(parents=True, exist_ok=True)
        self.b.traced = True
        spans = self.b.spans
        with spans.span("traced", "bench") as root:
            with spans.span("traced setup", "bench") as setup:
                self._session({"spark.eventLog.enabled": "true",
                               "spark.eventLog.dir": self.event_dir.as_uri(),
                               "spark.eventLog.compress": "false"})
            # one untimed pass restarts the Python workers and refills the
            # readers, so trace.overhead_s is the tracing's own cost
            self._warm(-10)
            out = self.window()
        out.update(root=root["id"], setup_span=setup["id"])
        return out

    def cleanup(self) -> None:
        """The harness's between-pass cleanup, untimed: drop cached frames
        and checkpoints, and let one driver GC reclaim dead shuffle files
        (the query workloads also do this, timed, after every query)."""
        from etl_transparencia_sergipe_spark.caching import (
            reclaim_disk,
            release_all,
        )

        release_all(self.spark)
        reclaim_disk(self.spark, floor_free_gib=1.0, min_passes=1)

    def all_passes(self) -> list[dict]:
        return self.warm + [p for w in self.windows for p in w["passes"]]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (sf0.001, a tiny grid), for tests")
    p.add_argument("--expected", help="expected-output file (tests)")
    return p.parse_args(argv)


def git_commit(root: Path) -> str | None:
    """HEAD of the checkout, read from .git without running git."""
    try:
        ref = (root / ".git" / "HEAD").read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        if (root / ".git" / name).exists():
            return (root / ".git" / name).read_text().strip()
        for line in (root / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return None


def shutdown_jvm(proc_tree: ProcTree) -> None:
    """Stop the gateway JVM this process started and wait until it and
    every process under it have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        jproc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the gateway may already be gone
            pass
        if jproc is not None:
            jproc.stdin.close()  # the JVM exits on end of its stdin
            try:
                jproc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jproc.kill()
                jproc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while left := [p for p in proc_tree.descendants() if p != proc_tree.pid]:
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def e2e_metrics(run: Runner, wl, untraced: dict, attempted: int,
                failed: int) -> dict:
    passes = untraced["passes"]
    walls = [o["wall"] for p in passes for o in p["ops"]
             if o["ok"] and o["kind"] in wl.op_kinds]
    return {
        "setup_s": run.setup_s(),
        "pass_s": wl.pass_wall(passes),
        "op_geomean_s": geomean(walls),
        "op_p50_s": statistics.median(walls) if walls else 0.0,
        "rows_per_s": wl.rows_per_s(passes),
        "peak_rss_mb": statistics.median(
            p["peak_rss_kb"] for p in passes) / 1024.0,
        "ok_frac": 1.0 - failed / attempted,
    }


def layer_metrics(run: Runner, wl, traced: dict, untraced: dict,
                  stages: dict) -> dict:
    """Per pass of the traced window; CPU over the untraced window, so the
    event log's own cost is not in it."""
    spans = run.b.spans
    passes = traced["passes"]
    n = wl.pass_count(passes)
    n_untraced = wl.pass_count(untraced["passes"])
    ops = [o for p in passes for o in p["ops"]]
    epochs = [o for o in ops if o["kind"] == "epoch" and o["ok"]]
    tot = job_stage_totals(spans, stages, [p["span"] for p in passes])
    build_jobs = job_stage_totals(
        spans, stages, [o["build_span"] for o in ops if "build_span" in o])
    epoch_jobs = job_stage_totals(spans, stages, [o["span"] for o in epochs])
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    cpu = untraced["cpu"]

    def total(key: str) -> float:
        return sum(p.get(key, 0) for p in passes)

    def per_pass(key: str) -> float:
        return total(key) / n

    def ops_sum(key: str, kind: str | None = None) -> float:
        return sum(o.get(key, 0) for o in ops
                   if kind is None or o["kind"] == kind) / n

    def epoch_median(sink: str) -> float:
        w = [o["wall"] for o in epochs if o.get("sink") == sink]
        return statistics.median(w) if w else 0.0

    out = {
        "session.build_s": statistics.median(run.session_walls[:N_SETUPS]),
        "sources.warm_scan_s": statistics.median(run.scan_walls[:N_SETUPS]),
        "plans.build_s": ops_sum("build_s"),
        "plans.build_jobs": build_jobs["jobs"] / n,
        "plans.exec_s": ops_sum("exec_s"),
        "plans.result_rows": ops_sum("rows", "query"),
        "plans.result_bytes": ops_sum("bytes", "query"),
        "exec.core_busy_frac": (tot["task_wall_s"] / (tot["job_wall_s"] * cores)
                                if tot["job_wall_s"] else 0.0),
        "exec.stage_skew_max": tot["stage_skew_max"],
        "cpu.jvm_s": cpu["jvm"] / n_untraced,
        "cpu.pyworker_s": cpu["pyworker"] / n_untraced,
        "cpu.driver_py_s": cpu["driver_py"] / n_untraced,
        "caching.release_s": ops_sum("release_s"),
        "caching.persisted_rdds_at_release": ops_sum("persisted_at_release"),
        "streaming.ann.epoch_s": epoch_median("ann"),
        "streaming.epoch_jobs": (epoch_jobs["jobs"] / len(epochs)
                                 if epochs else 0.0),
        "streaming.epoch_files_written": (total("files_written") / len(epochs)
                                          if epochs else 0.0),
        "streaming.state_bytes_per_input_byte": (
            total("bytes_written") / total("in_bytes")
            if total("in_bytes") else 0.0),
        "pipelines.build_s": per_pass("build_s"),
        "pipelines.write_s": per_pass("write_s"),
        "pipelines.files_written": per_pass("etl_files"),
        "pipelines.bytes_per_row": (total("etl_bytes") / total("etl_rows")
                                    if total("etl_rows") else 0.0),
        "pipelines.read_files_listed": per_pass("read_files_listed"),
        "trace.overhead_s": (wl.pass_wall(passes)
                             - wl.pass_wall(untraced["passes"])),
    }
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{k}"] = tot[k] / n
    # session and sources run in the traced set-up (per set-up); the other
    # layers in the window (per pass)
    setup_selfs = spans.self_time_by_layer(within=traced["setup_span"])
    selfs = spans.self_time_by_layer(within=traced["span"])
    for layer in ("session", "sources"):
        out[f"self.{layer}_s"] = setup_selfs.get(layer, 0.0)
    for layer in ("plans", "caching", "streaming", "pipelines", "spark",
                  "bench"):
        out[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    return out


def box_state(jiffies0, jiffies1, wall: float, calib_cpu: float,
              calib_shuffle: float) -> dict:
    """Whole-box busy and steal fractions over the run, this process
    tree's share, and the two calibration probes of bench.py."""
    self_cpu = repo_bench._proc_tree_cpu_sec()
    ncpus = os.cpu_count() or 1
    jt = jiffies1[1] - jiffies0[1]
    box_busy = (jiffies1[0] - jiffies0[0]) / jt if jt > 0 else 0.0
    self_busy = self_cpu / (wall * ncpus) if wall > 0 else 0.0
    return {"ncpus": ncpus, "wall_s": wall, "self_cpu_s": self_cpu,
            "box_busy_frac": box_busy, "self_busy_frac": self_busy,
            "other_busy_frac": max(0.0, box_busy - self_busy),
            "steal_frac": (jiffies1[2] - jiffies0[2]) / jt if jt > 0 else 0.0,
            "calib_cpu_sec": calib_cpu, "calib_shuffle_sec": calib_shuffle}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = workloads.configure_env(ROOT)
    spans = Spans()
    b = Bench(args, work, spans)
    wl = workloads.make(b, args.workload)
    proc = ProcTree()
    proc.start()
    jiffies0 = repo_bench._proc_stat_jiffies()
    calib_cpu = repo_bench._calib_cpu_sec()
    wall0 = time.perf_counter()
    wl.prepare()
    run = Runner(b, wl, args.seconds, proc)
    try:
        run.setup()
        untraced = run.window()
        calib_shuffle = repo_bench._calib_shuffle_sec(run.spark)
        traced = run.traced_window() if args.trace else None
        run.spark.stop()
    finally:
        shutdown_jvm(proc)
        proc.stop()
    box = box_state(jiffies0, repo_bench._proc_stat_jiffies(),
                    time.perf_counter() - wall0, calib_cpu, calib_shuffle)

    all_ops = [o for p in run.all_passes() for o in p["ops"]]
    attempted = len(all_ops)
    failed = sum(not o["ok"] for o in all_ops)
    e2e = e2e_metrics(run, wl, untraced, attempted, failed)
    if args.trace:
        jobs, stages = read_event_log(run.event_dir)
        nest_jobs(spans, jobs, stages, traced["root"])
        values, units = layer_metrics(run, wl, traced, untraced,
                                      stages), LAYER_UNITS
        spans.write(work / "traces" / f"{args.workload}-{spans.run_id}.json")
        print("per-layer self time (traced; session and sources per set-up, "
              "the rest per pass):")
        for k in (k for k in LAYER_UNITS if k.startswith("self.")):
            print(f"  {k[5:-2]:10s} {values[k]:9.3f} s")
        print(f"  tracing overhead per pass: {values['trace.overhead_s']:+.3f} s")
    else:
        values, units = e2e, E2E_UNITS

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "tiny": args.tiny,
        "commit": git_commit(ROOT), "run_id": spans.run_id, "box": box,
        "e2e": e2e, "layer": values if args.trace else None,
        "session_walls": run.session_walls, "scan_walls": run.scan_walls,
        "state_s": run.state_s,
        "passes": [{"idx": p["idx"], "wall": p["wall"],
                    "ops": [{k: o[k] for k in ("name", "wall", "ok", "err",
                                               "rows")}
                            for o in p["ops"]]} for p in run.all_passes()],
    }
    runs = work / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{args.workload}-{args.seed}-t{args.trace}-{spans.run_id}.json") \
        .write_text(json.dumps(record, indent=1, default=str))
    for o in all_ops:
        if not o["ok"]:
            print(f"FAILED {o['name']}: {o['err']}")
    print(json.dumps({"box": box, "seed": args.seed,
                      "commit": record["commit"]}))
    line = json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed,
                       "metrics": {k: {"value": values[k], "unit": u}
                                   for k, u in units.items()}})
    sys.stdout.flush()
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
