"""Round-6 optimization measurement harness (bench.py is FROZEN for
driver measurement — this file holds the extra instrumentation the
optimization guide §1 calls for, cited from OPTIMIZATION_r06.md).

Per-query isolation with the noop sink, same methodology as
bench.py::bench_queries (1 warm run + min of N timed construct+noop
runs), plus optional .explain("formatted") capture to plans/r06/.

Usage:
    python bench_extra.py q_dup_groups q_minhash_dup_pairs   # time only
    python bench_extra.py --plans before q_dup_groups        # also write
        plans/r06/q_dup_groups_before.txt (truncated at 200 KB)
    python bench_extra.py --all                              # whole HEADLINE list

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_REPEATS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PLAN_CAP = 200 * 1024  # explain() of a pathological plan can be huge


def capture_plan(df, path: str) -> None:
    txt = df._sc._jvm.PythonSQLUtils.explainString(  # same as explain()
        df._jdf.queryExecution(), "formatted"
    )
    if len(txt) > PLAN_CAP:
        txt = txt[:PLAN_CAP] + f"\n... [truncated: full plan {len(txt)} bytes]\n"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(txt)


USAGE = "usage: python bench_extra.py [--plans TAG] (--all | QUERY ...)"


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plan_tag = None
    if "--plans" in args:
        i = args.index("--plans")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            sys.exit(f"--plans needs a TAG\n{USAGE}")
        plan_tag = args[i + 1]
        del args[i : i + 2]

    import bench
    import __spark_entry__ as entry
    from crawleria_spark.session import get_spark

    if "--all" in args:
        names = list(bench.HEADLINE)
    else:
        names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    spark = get_spark("bench_extra", cores=cores)
    qs = entry.queries()
    out: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"{name}: warm")
        df = fn(spark, sf_dir)
        if plan_tag:
            capture_plan(df, f"plans/r06/{name}_{plan_tag}.txt")
        df.count()  # warm (plan + file listing + JIT)
        best, samples = float("inf"), []
        for k in range(max(1, repeats)):
            spark.sparkContext.setJobDescription(f"{name}: timed {k}")
            t0 = time.time()
            bench._materialize(fn(spark, sf_dir))
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        out[name] = round(best, 3)
        print(json.dumps({"query": name, "min": out[name], "samples": samples,
                          "load1": round(os.getloadavg()[0], 1)}),
              flush=True)
    print(json.dumps({"sf_dir": sf_dir, "queries_min": out,
                      "total": round(sum(out.values()), 3)}))


if __name__ == "__main__":
    main()
