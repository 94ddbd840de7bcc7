"""Benchmark of the quality-filter engine.

    python3 perfbench/run.py --workload crawl_head --seed 1 --seconds 10 --trace 0

Run from a checkout of the repository. Each workload (see gen.py) is a
generated dt-partitioned parquet input that ``pipeline.run_resumable``, the
production entry point, processes once per rep. The input is generated from
``--seed`` before anything is timed. Set-up is the session start plus a
fixed warm-up: one cold rep over an input of the workload's own size and mix
from a fixed seed (the same in every run and every seed). The measured phase
runs reps until ``--seconds`` have passed; afterwards the output is checked
against the row-at-a-time oracle on a seeded sample of urls, and the pass
counts against the workload's mix target.

End-to-end metrics (``--trace 0``), medians over the reps:
  docs_per_s      input docs / rep wall time
  cpu_s_per_kdoc  CPU-s of the Spark JVM and its Python workers per 1000 docs
  peak_rss_mb     sustained peak RSS of the JVM and its Python workers in
                  the measured phase (the 90th percentile of 100 ms samples:
                  JIT-compiler bursts of up to +1.2 GB lasting under a
                  second land in some runs and not others), plus the most
                  bytes one rep persisted, which live in spark.local.dir
                  (tmpfs); the detail line has the plain maximum
  setup_s         session start plus warm-up
``--trace 1`` makes a separate traced run and reports the per-layer metrics
(layers.py). The metric names and units are those of BENCHMARK.json.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it records the run: session configuration, CPU
steal and load, per-rep timings, pass counts and oracle mismatches. Work
files go under ``.perfbench_work/`` and are removed; span dumps of traced
runs stay in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# two task slots on a 4-core box leave cores for the JIT compiler, GC and
# driver threads: at local[4] the Python workers' CPU for the same rep was
# 60% higher and the JIT took a rep longer to settle
CORES = min(2, os.cpu_count() or 1)
# with the library's 24g default heap, G1 grew the JVM past 10 GB RSS on a
# 4-core, 15 GB machine; the benchmark sizes the heap like a small executor
DRIVER_MEMORY = "2g"
# The untraced warm-up is one cold rep over a fixed input of the workload's
# own size and mix. Per-row work is what warms the JIT: after a cold 4-doc
# rep and three more 4-doc reps, the first 10000-doc crawl_head rep still
# burnt 37 JVM CPU-s, against 19 once settled. After this warm-up the first
# timed rep can still be up to 10% slower than later ones. cascade_tail,
# whose reps build three passes and two persists, settles over more reps:
# after one warm-up rep its first timed rep burnt 60% more JVM CPU than the
# third, so it gets a second one. Longer warm-ups do not fit the run
# budget. The traced run warms up with the 4-doc rep only, to stay short.
WARM_UP = {"crawl_head": ("warm",), "cascade_tail": ("warm", "warm")}
TRACED_WARM_UP = ("fixed",)
ORACLE_SAMPLE = 150


def session_config() -> dict:
    """The one session configuration every workload uses."""
    return {"app": "perfbench", "master": f"local[{CORES}]",
            "shuffle_partitions": CORES, "driver_memory": DRIVER_MEMORY}


def start_session():
    from langid_mr_spark import pipeline

    spark = pipeline.session(**session_config())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits on EOF) and
    wait for it; its Python workers go down with the session."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def declared_units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def setup(bench, kinds) -> tuple[object, float, list[float]]:
    """Session start plus a warm-up rep over each input in ``kinds``.
    Returns (spark, session start seconds, warm-up rep seconds)."""
    t0 = time.perf_counter()
    spark = start_session()
    start_s = time.perf_counter() - t0
    warm = []
    for kind in kinds:
        t0 = time.perf_counter()
        bench.warm_up(spark, kind)
        warm.append(time.perf_counter() - t0)
    return spark, start_s, warm


def end_to_end(units, setup_s: float, rss: int) -> dict[str, float]:
    ok = [u for u in units if u.ok] or units
    return {
        "docs_per_s": statistics.median(u.docs / u.wall for u in ok),
        "cpu_s_per_kdoc": statistics.median(
            sum(u.cpu.values()) / (u.docs / 1000) for u in ok),
        "peak_rss_mb": (rss + max(u.persisted_bytes for u in units)) / 2**20,
        "setup_s": setup_s,
    }


def run(args) -> tuple[dict, dict]:
    import check
    import procstat
    import workloads

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    workloads.clean(work)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        bench = workloads.Batch(args.workload, args.seed, work)
        generate_s = time.perf_counter() - t0
        m0 = procstat.machine()
        spark, start_s, warm = setup(bench, TRACED_WARM_UP if args.trace
                                     else WARM_UP[args.workload])
        setup_s = start_s + sum(warm)
        jvm = procstat.jvm_pid(spark)
        if args.trace:
            import layers
            metrics, detail = layers.traced(spark, jvm, bench, args, CORES)
            units = detail.pop("reps")
            metrics.update({"session.start_s": start_s,
                            "setup.warm_up_s": sum(warm)})
        else:
            with procstat.RssSampler(jvm) as rss:
                units = bench.measure(spark, jvm, args.seconds)
            metrics = end_to_end(units, setup_s, rss.quantile(0.9))
            detail = {"rss_max_mb": rss.quantile(1.0) / 2**20}
        m1 = procstat.machine()

        # correctness, outside the timed phase
        t0 = time.perf_counter()
        out = bench.last_output()
        counts = check.pass_counts(spark.read.parquet(out))
        urls = check.sample_urls(bench.pdf, args.seed, ORACLE_SAMPLE)
        bad = check.oracle_mismatches(spark, out, bench.pdf, urls)
        row_errors = (int(counts["rows"] != bench.docs)
                      + int(counts["distinct_urls"] != counts["rows"]))
        target, meets = check.MIX_TARGETS[args.workload]
        mix_ok = meets(counts)
        check_s = time.perf_counter() - t0
    finally:
        if spark is not None:
            stop(spark)
        workloads.clean(work)

    attempted = len(units) + len(urls)
    failed = sum(not u.ok for u in units) + len(bad) + row_errors
    if args.trace:
        metrics["failed_frac"] = failed / attempted
    units_of = declared_units(args.trace)
    if set(metrics) != set(units_of):
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(units_of))}")
    detail.update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "session": session_config(), "docs": bench.docs,
        "input_bytes": bench.input_bytes, "generate_s": generate_s,
        "session_start_s": start_s, "warm_up_s": warm, "check_s": check_s,
        "steal_s": m1["steal_s"] - m0["steal_s"],
        "load1_start": m0["load1"], "load1_end": m1["load1"],
        "reps": [{"wall_s": u.wall, "cpu_s": u.cpu, "ok": u.ok,
                  "persisted_rdds": u.persisted_rdds} for u in units],
        "pass_counts": counts, "mix_target": target, "mix_ok": mix_ok,
        "oracle_sample": len(urls), "oracle_mismatches": bad[:10],
        "row_errors": row_errors,
    })
    result = {"correct": failed == 0 and mix_ok, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units_of[k]}
                          for k, v in metrics.items()}}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_head", "cascade_tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)  # Python workers import the library from the cwd
    sys.path[:0] = [ROOT, HERE]
    try:
        import langid_mr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    result, detail = run(args)
    detail["total_s"] = time.perf_counter() - t0
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
