"""Per-query profiler for the optimization rounds.

For each named query (default: the bench headline + extended set),
runs the query once with the noop sink (guide §1.4 — computes every
column, no count() pruning) inside a dedicated job group, and reports:

  wall seconds | #Spark jobs | #stages | #py4j round trips | query name

The py4j count covers building the query and running it: it is the
driver-plan-construction layer's size (each Column, select and conf
read is one or more round trips). Each row of /tmp/profile_queries.json
also carries ``cache`` and ``decode``: how the session cache's and the
manifest decode memo's counters (session_cache.stats(),
manifests.decode_cache_stats()) moved across the query.

Fixed per-job overhead (scheduling, Python-worker round trips,
streaming micro-batch machinery) shows up as a high job count with low
per-job time; real compute shows up as few jobs with high stage time.

Usage: python tools/profile_queries.py [query ...] [--repeat N]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from icegopher_spark import session_cache  # noqa: E402
from icegopher_spark.iceberg.manifests import decode_cache_stats  # noqa: E402
from icegopher_spark.queries import QUERIES  # noqa: E402
from icegopher_spark.session import get_spark, py4j_calls  # noqa: E402


def _delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def profile(spark, names: list[str], sf_dir: str, repeat: int = 1) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        best = None
        for r in range(repeat):
            group = f"profile-{name}-{r}"
            sc.setJobGroup(group, name)
            cache0, decode0 = session_cache.stats(), decode_cache_stats()
            with py4j_calls(spark) as calls:
                t0 = time.time()
                df = QUERIES[name].fn(spark, sf_dir)
                t_plan = time.time() - t0
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
            cache = _delta(cache0, session_cache.stats())
            decode = _delta(decode0, decode_cache_stats())
            sc.setJobGroup("idle", "idle")
            jobs = tracker.getJobIdsForGroup(group)
            n_stages = 0
            for j in jobs:
                ji = tracker.getJobInfo(j)
                if ji:
                    n_stages += len(ji.stageIds)
            row = {
                "sec": round(dt, 3),
                "fn_sec": round(t_plan, 3),
                "jobs": len(jobs),
                "stages": n_stages,
                "py4j": calls[0],
                "cache": cache,
                "decode": decode,
            }
            if best is None or row["sec"] < best["sec"]:
                best = row
        out[name] = best
        c, d = best["cache"], best["decode"]
        print(
            f"{best['sec']:8.3f}s  fn={best['fn_sec']:7.3f}s  "
            f"jobs={best['jobs']:4d}  stages={best['stages']:4d}  "
            f"py4j={best['py4j']:6d}  "
            f"cache={c['hits']}h/{c['misses']}m  "
            f"decode={d['hits']}h/{d['misses']}m  {name}",
            flush=True,
        )
    return out


def main() -> None:
    import os

    repeat = 1
    argv = sys.argv[1:]
    if "--repeat" in argv:
        i = argv.index("--repeat")
        repeat = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    if args:
        names = args
    else:
        import bench

        names = list(bench.BENCH_QUERIES) + [
            q for q in bench.EXTENDED if q in QUERIES
        ]
    # warm-up pass mirroring bench.py so JIT/daemon startup is not
    # billed to the first query
    from icegopher_spark.queries import load

    load(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().count()
    out = profile(spark, names, sf_dir, repeat)
    Path("/tmp/profile_queries.json").write_text(json.dumps(out, indent=1))
    print("total:", round(sum(v["sec"] for v in out.values()), 2), "s")


if __name__ == "__main__":
    main()
