"""Per-query wall profile of a whole plan family, the measurement the
query workloads' samples are chosen from.

    python3 perfbench/family_profile.py corpus       # or: relational

Runs every query registered from the family's plan modules on the
benchmark's generated tables at sf0.1, in sorted-name order, in one
session at the program's defaults (the same environment as ``run.py``).
The first pass is an untimed warm-up; each later pass records every
query's build, ``toArrow()`` and ``release_all`` + ``reclaim_disk`` wall.
The per-query medians over the measured passes, and each query's share
of the family's summed wall, are written to
``perfbench/profiles/<family>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
if str(HERE) not in sys.path:
    sys.path.insert(0, str(HERE))

import bench as repo_bench  # noqa: E402
import workloads  # noqa: E402

FAMILIES = {
    "relational": ("relational", "relational2", "event_analytics",
                   "streaming_queries", "dq_audit"),
    "corpus": ("textops", "dedup_queries", "similarity_queries",
               "curation_queries", "ml_queries"),
}
SF = 0.1


def family_queries(family: str) -> list[str]:
    from etl_transparencia_sergipe_spark.plans import registry

    registry.queries()
    mods = {f"etl_transparencia_sergipe_spark.plans.{m}"
            for m in FAMILIES[family]}
    return sorted(n for n, qd in registry.REGISTRY.items()
                  if qd.build.__module__ in mods)


def profile(family: str, passes: int) -> dict:
    from etl_transparencia_sergipe_spark.caching import (
        reclaim_disk,
        release_all,
    )
    from etl_transparencia_sergipe_spark.plans import registry
    from etl_transparencia_sergipe_spark.session import get_spark

    work = workloads.configure_env(ROOT)
    data_dir = str(workloads.ensure_data(work, SF))
    names = family_queries(family)
    calib_cpu = repo_bench._calib_cpu_sec()
    spark = get_spark(f"perfbench-profile-{family}")
    walls: dict[str, list[tuple[float, float, float]]] = {n: [] for n in names}
    try:
        for p in range(passes + 1):
            t_pass = time.perf_counter()
            for name in names:
                t0 = time.perf_counter()
                df = registry.REGISTRY[name].build(spark, data_dir)
                t1 = time.perf_counter()
                df.toArrow()
                t2 = time.perf_counter()
                release_all(spark)
                reclaim_disk(spark, floor_free_gib=1.0, min_passes=1)
                t3 = time.perf_counter()
                if p:
                    walls[name].append((t1 - t0, t2 - t1, t3 - t2))
            print(f"pass {p}{' (warm-up)' if not p else ''}: "
                  f"{time.perf_counter() - t_pass:.1f} s", flush=True)
    finally:
        spark.stop()
    rows = {}
    for name, w in walls.items():
        b, e, r = (statistics.median(x[i] for x in w) for i in range(3))
        rows[name] = {"build_s": round(b, 3), "exec_s": round(e, 3),
                      "release_s": round(r, 3), "wall_s": round(b + e + r, 3)}
    total = sum(r["wall_s"] for r in rows.values())
    for r in rows.values():
        r["share"] = round(r["wall_s"] / total, 4)
    return {"family": family, "sf": SF, "queries": len(names),
            "measured_passes": passes,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "calib_cpu_sec": calib_cpu, "total_wall_s": round(total, 3),
            "by_query": dict(sorted(rows.items(),
                                    key=lambda kv: -kv[1]["wall_s"]))}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("family", choices=sorted(FAMILIES))
    p.add_argument("--passes", type=int, default=2,
                   help="measured passes after the warm-up (default 2)")
    args = p.parse_args(argv)
    out = profile(args.family, args.passes)
    dest = HERE / "profiles" / f"{args.family}.json"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text(json.dumps(out, indent=1) + "\n")
    for name, r in list(out["by_query"].items())[:15]:
        print(f"  {name:36s} {r['wall_s']:7.3f} s  {100 * r['share']:5.1f}%")
    print(f"wrote {dest} ({out['queries']} queries, "
          f"{out['total_wall_s']:.1f} s per pass)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
