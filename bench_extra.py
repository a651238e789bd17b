"""Round-6 optimization harness — NOT the driver bench (bench.py is frozen).

Times individual declared queries with the same count()-forcing methodology
as bench.py (min-of-N, /proc/stat steal tags) and dumps
``.explain('formatted')`` for each to ``plans/r06/<query>_<tag>.txt``.

Usage:
  python bench_extra.py --tag before --repeats 3 q1 q2 ...
  python bench_extra.py --tag before --list          # show all query names
  SGS_NOOP=1 python bench_extra.py ...               # noop sink instead of count
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# cores of this host (what `nproc` prints) unless SPARK_GRAFT_CPUS says otherwise
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
NOOP = os.environ.get("SGS_NOOP", "0") == "1"


def _ticks():
    parts = open("/proc/stat").readline().split()
    vals = list(map(int, parts[1:]))
    return sum(vals), vals[7]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default=None, help="plan dump tag (before/after)")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--list", action="store_true")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from sketches_go_spark.plans.session import get_spark

    qfns = entry.queries()
    if args.list:
        print("\n".join(sorted(qfns)))
        return

    spark = get_spark(
        cores=CPUS,
        shuffle_partitions=2 * CPUS,
        app_name="sgs-bench-extra",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    plans_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", "r06"
    )
    os.makedirs(plans_dir, exist_ok=True)

    # warm-up: JVM + python worker pool (same rationale as bench.py)
    qfns["ddsketch_latency_by_tool"](spark, SF_DIR).count()
    qfns["ddsketch_udaf_textlen_by_role"](spark, SF_DIR).count()

    results = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.tag and not args.no_plans:
            df = qfns[name](spark, SF_DIR)
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        samples = []
        best, best_steal = float("inf"), 0.0
        for _ in range(args.repeats):
            j0, s0 = _ticks()
            t0 = time.perf_counter()
            df = qfns[name](spark, SF_DIR)
            if NOOP:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.perf_counter() - t0
            j1, s1 = _ticks()
            samples.append(round(dt, 3))
            if dt < best:
                best = dt
                best_steal = 100.0 * (s1 - s0) / max(j1 - j0, 1)
        results[name] = {
            "best": round(best, 3),
            "samples": samples,
            "steal": round(best_steal, 2),
        }
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({"sf": SF_DIR, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
