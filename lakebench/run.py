"""Closed-loop lakehouse benchmark for icegopher_spark.

    python3 lakebench/run.py --workload point_lookups --seed 1 --seconds 12 --trace 0

One client issues a fixed, seeded sequence of ops, each sent after the
previous one returns; --seconds sets the op count through the
workload's nominal rate, never a deadline. Every op checks its own
result. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 the per-layer ones, from spans around each call into the
engine (written to lakebench/.traces/). The last stdout line is the
JSON result; the lines before it name each metric with its unit and
sample count. Run from the repository root; the run's tables, Spark
scratch and temp files live under lakebench/.work/ and are removed at
exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("point_lookups", "curation_batches")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    from lakebench import harness

    wl_mod = importlib.import_module(f"lakebench.{args.workload}")
    n_ops = max(1, round(args.seconds * wl_mod.OPS_PER_SECOND))
    work_root = os.path.join(BENCH_DIR, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work_root)
    spark = None
    try:
        harness.configure_environment(work)
        t0 = time.perf_counter()
        spark = harness.start_spark()
        spark_start_s = time.perf_counter() - t0
        tracer = harness.Tracer(bool(args.trace), spark.sparkContext)
        untraced = harness.Tracer(False)
        wl = wl_mod.Workload(spark, work, args.seed, n_ops)
        wl.build(tracer)
        t1 = time.perf_counter()
        wl.oracle()
        t2 = time.perf_counter()
        wl.warm_up(untraced)
        t3 = time.perf_counter()
        oracle_s = t2 - t1
        setup_s = t3 - t0 - oracle_s

        lat_ms, failed, found, expected = [], 0, 0, 0
        weather0 = harness.host_contention()
        t_start = time.perf_counter()
        for i in range(n_ops):
            a = time.perf_counter()
            try:
                ok, f, e = wl.op(i, tracer)
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc()
                ok, f, e = False, 0, 0
            lat_ms.append((time.perf_counter() - a) * 1e3)
            failed += not ok
            found += f
            expected += e
        wall_s = time.perf_counter() - t_start
        weather = {k: v - weather0[k] for k, v in harness.host_contention().items()}

        lat = harness.latency_summary(lat_ms)
        rss = harness.peak_rss_mb()
        result = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": n_ops,
            "sizes": wl.sizes(),
            "spark_cores": harness.spark_cores(),
            "setup_phases_s": {
                "spark_start": spark_start_s,
                "build": t1 - t0 - spark_start_s,
                "warm_up": t3 - t2,
            },
            "oracle_s": oracle_s,
            "timed_s": wall_s,
            "host_contention_s": weather,
            "peak_rss_mb": rss,
            "latency": lat,
            "op_ms": [round(x, 1) for x in lat_ms],
            "correct": failed == 0,
            "attempted": n_ops,
            "failed": failed,
        }
        if args.trace:
            tracer.finish()
            trace_file = f"{args.workload}-seed{args.seed}.json"
            tracer.write(os.path.join(BENCH_DIR, ".traces", trace_file))
            layers = wl.layer_metrics(tracer)
            layers["trace.ops_per_s"] = n_ops / wall_s
            layers["trace.op_ms.p50"] = lat["p50"]
            jobs = tracer.per_op(lambda ss: sum(len(s.jobs) for s in ss))
            stages = tracer.per_op(lambda ss: sum(s.stages for s in ss))
            layers["spark.jobs_per_op"] = sum(jobs) / n_ops
            layers["spark.stages_per_op"] = sum(stages) / n_ops
            layers["bench.self_ms"] = harness.median(
                tracer.per_op(lambda ss: sum(s.self_ms for s in ss if s.name == "op"))
            )
            result["metrics"] = layers
        else:
            result["metrics"] = {
                "setup_s": setup_s,
                "op_ms.p50": lat["p50"],
                "op_ms.tail": lat["tail"],
                "ops_per_s": n_ops / wall_s,
                "peak_rss_mb": sum(rss.values()),
                "recall": found / expected if expected else 0.0,
            }
        return result
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("icegopher_spark")
    except ImportError as exc:
        print(f"lakebench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    result = run(args)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result.pop("metrics")
    unknown = set(got) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        if m["name"] not in got and not args.trace:
            raise RuntimeError(f"end-to-end metric {m['name']} was not measured")
        # a per-layer metric of a layer this workload never calls reads 0
        metrics[m["name"]] = {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}

    lat = result["latency"]
    summary = ("correct", "attempted", "failed")
    print(json.dumps({k: v for k, v in result.items() if k not in summary}))
    for name, m in metrics.items():
        note = ""
        if name == "op_ms.p50":
            note = f"  (p50, n={lat['n']})"
        elif name == "op_ms.tail":
            note = f"  (p{lat['tail_pct']:g}, n={lat['n']})"
        print(f"{args.workload:17s} {name:34s} {m['value']:14.4f} {m['unit']}{note}")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
