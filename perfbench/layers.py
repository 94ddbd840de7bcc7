"""The traced run: per-layer metrics for one batch workload.

Spark evaluates lazily, so a span around a layer's public function times
only Spark building that layer's plan. Execution time per layer comes
from a ladder of jobs over the workload's input, each adding one layer to
the previous one, built from the same public functions ``run_pipeline``
uses; a layer's self time is its job minus the job below it:

    scan      read + validate the input columns the pipeline reads
    extract   + pipeline.extract_text_udf
    quality   + quality.with_quality
    gate.pass1  + probe + gate.with_pass1 + DISK_ONLY persist
    gate.pass2  gate.apply_gate with strict_reject (passes 1-2, both persists)
    gate.pass3  gate.apply_gate (passes 1-3)
    scrub     the quality job + the scrub.scrub_col snippet on every row
    pipeline  pipeline.run_pipeline to a no-op sink

Every job of a ladder reads the same input path, so a stage one job
persists would be served to the later jobs from Spark SQL's cache manager.
After each job that persists, ``spark.catalog.clearCache()`` drops the
cache-manager entries with their blocks (``JavaRDD.unpersist`` would drop
the blocks only and leave the entries, which later jobs then recompute).

One ``run_resumable`` rep runs with spans around the library's plan
builders. ``plan.build_s`` is its ``run_pipeline`` span, its untraced time
is its wall time less ``trace.overhead_s`` (the spans' own cost), ``write``
is the untraced time minus the pipeline job minus the plan build, and
``remainder`` is what the untraced time holds outside the named layers, so
the layers plus the remainder add up to it by construction. The ladder
runs after the rep, in the same warm session. ``rep.fixed_s`` is a rep over a
4-document input, the per-run cost that does not grow with the input; it
runs first and takes the place of the untraced run's second warm-up rep, so
the JVM is a little less warm for it than for the rep. The
traced run also drains a fixture-mix file drop through
``streaming.incremental_run`` (the stream layer), times
``scoring.score_batch`` in-process, reads GC, spill and task skew from
Spark's monitoring REST API. Spans for every job and every wrapped library
call are kept in memory and written to ``.perfbench_out/`` at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.storagelevel import StorageLevel

import check
import gen
import workloads
from spans import Tracer, call_cost
from langid_mr_spark import gate, pipeline, quality, scoring, scrub, streaming
from langid_mr_spark import textnorm as TN
from langid_mr_spark.functions import exprs as X

CARRIED = ["url", "warc_ts", "lang"]
STREAM_DROPS = 1
STREAM_DOCS = 1000
SCORING_MIN_S = 1.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _new_persists(spark, before: set[int]) -> list[int]:
    return sorted(workloads.persisted_ids(spark) - before)


class Ladder:
    """Builds and times the ladder jobs over one input path."""

    def __init__(self, spark, tracer: Tracer, input_path: str):
        self.spark, self.tr, self.input = spark, tracer, input_path

    def _frames(self):
        src = pipeline.with_dt(self.spark.read.parquet(self.input))
        valid = src.filter(pipeline.valid_input())
        extracted = valid.select(
            *CARRIED, pipeline.extract_text_udf(F.col("html")).alias("_ex"),
        ).select(*CARRIED, F.col("_ex.extracted").alias("extracted"),
                 F.col("_ex.error").alias("extract_error"))
        return src, valid, extracted

    def run(self) -> dict:
        spark, tr = self.spark, self.tr
        t: dict[str, float] = {}
        counts: dict[str, float] = {}

        def job(name: str, df, action=_noop) -> None:
            with tr.span(f"ladder.{name}") as s:
                action(df)
            t[name] = s["end"] - s["start"]

        src, valid, extracted = self._frames()
        qual = quality.with_quality(extracted, "extracted")
        probed = qual.select(
            *CARRIED, "quality_fail_reason", "extract_error",
            X.probe(F.col("extracted")).alias("extracted"))

        job("scan", valid.select(*CARRIED, "html"))

        obs_ex = Observation("extract")
        job("extract", extracted.observe(
            obs_ex, F.count(F.lit(1)).alias("rows"),
            F.count(F.col("extract_error")).alias("errors")))
        counts["extract.rows"] = obs_ex.get["rows"]
        counts["extract.errors"] = obs_ex.get["errors"]

        obs_q = Observation("quality")
        job("quality", qual.observe(
            obs_q, F.count(F.col("quality_fail_reason")).alias("failed")),
            lambda df: _grouped(spark, "perfbench-quality",
                                lambda: _noop(df)))
        counts["quality.rows_failed"] = obs_q.get["failed"]

        before = workloads.persisted_ids(spark)
        job("gate.pass1", gate.with_pass1(
            probed, "extracted", text_is_probe=True).persist(
                StorageLevel.DISK_ONLY), lambda df: df.count())
        counts["gate.pass1.persist_bytes"] = workloads.disk_bytes(
            spark, set(_new_persists(spark, before)))
        spark.catalog.clearCache()

        for name, strict in (("gate.pass2", True), ("gate.pass3", False)):
            before = workloads.persisted_ids(spark)
            job(name, gate.apply_gate(
                probed, "extracted", strict_reject=strict,
                persist_level=StorageLevel.DISK_ONLY, text_is_probe=True))
            ids = _new_persists(spark, before)
            if strict and len(ids) >= 2:  # [pass-1 stage, pass-2 stage]
                counts["gate.pass2.persist_bytes"] = workloads.disk_bytes(
                    spark, {ids[-1]})
            spark.catalog.clearCache()

        job("scrub", qual.select(
            *CARRIED, "quality_fail_reason", X.snippet_first_words(
                scrub.scrub_col(X.snippet_window(F.col("extracted"))), 10)
            .alias("scrubbed_text")))

        with tr.span("ladder.plan") as s:
            out = pipeline.with_dt(pipeline.run_pipeline(src))
        t["plan"] = s["end"] - s["start"]
        job("pipeline", out)
        spark.catalog.clearCache()

        self_s = {
            "scan.s": t["scan"],
            "extract.s": t["extract"] - t["scan"],
            "quality.s": t["quality"] - t["extract"],
            "gate.pass1.s": t["gate.pass1"] - t["quality"],
            "gate.pass2.s": t["gate.pass2"] - t["gate.pass1"],
            "gate.pass3.s": t["gate.pass3"] - t["gate.pass2"],
            "scrub.s": t["scrub"] - t["quality"],
        }
        return {"jobs_s": t, "self_s": self_s, "counts": counts}


class SparkRest:
    """Spark's monitoring REST API on the Spark UI port."""

    def __init__(self, spark):
        port = spark.sparkContext.uiWebUrl.rstrip("/").rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1"
        self.app = spark.sparkContext.applicationId

    def get(self, path: str):
        url = f"{self.base}/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def group_stages(self, group: str) -> list[dict]:
        ids = {s for j in self.get("jobs") if j.get("jobGroup") == group
               for s in j["stageIds"]}
        return [st for st in self.get("stages?status=complete")
                if st["stageId"] in ids]

    def task_run_ms(self, stage: dict) -> list[int]:
        tasks = self.get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                         "/taskList?length=100000")
        return [t["taskMetrics"]["executorRunTime"] for t in tasks
                if t.get("taskMetrics")]


def _grouped(spark, group: str, fn):
    spark.sparkContext.setJobGroup(group, group)
    try:
        return fn()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def scoring_rate(texts: list[str]) -> dict:
    """In-process ``scoring.score_batch`` over the workload's probes, in
    Arrow-batch-sized slices, repeated for at least SCORING_MIN_S."""
    probes = [TN.probe(t) for t in texts]
    batch = 2048
    chars = sum(len(p) for p in probes)
    scoring.get_tables()
    docs = n_chars = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < SCORING_MIN_S:
        for i in range(0, len(probes), batch):
            scoring.score_batch(probes[i:i + batch])
        docs += len(probes)
        n_chars += chars
    dt = time.perf_counter() - t0
    return {"scoring.docs_per_s": docs / dt, "scoring.chars_per_s": n_chars / dt}


def stream_section(spark, tracer: Tracer, work: str, seed: int) -> dict:
    """STREAM_DROPS fixture-mix drops, each landed by rename and drained by
    its own ``incremental_run``; spans around the plan build and the write.
    ``incremental_run`` blocks this thread while foreachBatch runs on the
    Py4J callback thread, so those spans nest under the drop's span.
    ``stream.persisted_rdds`` is the growth of ``getPersistentRDDs()`` per
    drop, so persists left by earlier work in the session do not count."""
    d = {k: os.path.join(work, "stream", k)
         for k in ("input", "output", "checkpoint")}
    os.makedirs(d["input"])
    lat, overhead = [], []
    rdds = [len(workloads.persisted_ids(spark))]
    targets = [(pipeline, "run_pipeline", "stream.plan"),
               (DataFrameWriter, "parquet", "stream.write")]
    for k in range(STREAM_DROPS):
        name = f"drop-{k:04d}.parquet"
        tmp = os.path.join(d["input"], f".{name}.tmp")
        gen.to_parquet(gen.fixture_delta(seed, STREAM_DOCS, k), tmp)
        with tracer.patched(targets), tracer.span("stream.delta") as s:
            os.rename(tmp, os.path.join(d["input"], name))
            streaming.incremental_run(spark, d["input"], d["output"],
                                      d["checkpoint"])
        wall = s["end"] - s["start"]
        inner = (tracer.total("stream.plan", s["id"])
                 + tracer.total("stream.write", s["id"]))
        lat.append(wall)
        overhead.append(wall - inner)
        rdds.append(len(workloads.persisted_ids(spark)))
    return {"stream.delta_s": statistics.median(lat),
            "stream.overhead_s": statistics.median(overhead),
            "stream.persisted_rdds": (rdds[-1] - rdds[0]) / STREAM_DROPS,
            "_latencies": lat, "_persisted_rdds": rdds}


def _files(paths: list[str]) -> tuple[int, int]:
    n = size = 0
    for root in paths:
        for dirpath, _, names in os.walk(root):
            for f in names:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def traced(spark, jvm: int, bench, args, cores: int):
    """Per-layer metrics of one traced run, after a set-up whose only
    warm-up rep is the 4-doc one. Returns (metrics, detail)."""
    tr = Tracer()
    rest = SparkRest(spark)
    kdocs = bench.docs / 1000
    with tr.span("rep.fixed"):
        fixed = bench.fixed(spark, jvm)

    # One rep, traced. The spans wrap the calls that build the plan in this
    # process and never run inside Spark's tasks, so what tracing adds to
    # the rep is the spans' own cost: the number of spans times the measured
    # cost of one (a second, untraced rep to subtract would add 11-14 s to
    # the run and would mostly measure the JIT warming between the two
    # reps).
    targets = [(pipeline, "run_pipeline", "plan"),
               (quality, "with_quality", "plan.quality"),
               (gate, "apply_gate", "plan.gate"),
               (gate, "with_pass1", "plan.gate.pass1"),
               (scrub, "scrub_col", "plan.scrub"),
               (pipeline, "metrics_table", "plan.metrics_table")]

    with tr.patched(targets), tr.span("rep") as s:
        rep = _grouped(spark, "perfbench-rep", lambda: bench.rep(spark, jvm))
    plan_s = tr.total("plan", s["id"])
    overhead = (len(tr.spans) - s["id"] - 1) * call_cost()
    rep_out = bench.last_output()
    t_untraced, cpu = rep.wall - overhead, rep.cpu

    stages = rest.group_stages("perfbench-rep")
    ladders = []
    t0 = time.perf_counter()
    with tr.span("ladders"):
        while not ladders or time.perf_counter() - t0 < args.seconds:
            with tr.span("ladder"):
                ladders.append(Ladder(spark, tr, bench.fresh()).run())
    jobs = {}
    for name in ladders[0]["jobs_s"]:
        jobs[name] = statistics.median(l["jobs_s"][name] for l in ladders)
    self_s = {k: statistics.median(l["self_s"][k] for l in ladders)
              for k in ladders[0]["self_s"]}
    counts = ladders[-1]["counts"]

    # task skew in the quality ladder job: scan + extract + quality over
    # whole documents, the stage where long documents land unevenly
    skew_stage = max(rest.group_stages("perfbench-quality"),
                     key=lambda st: st["executorRunTime"])
    run_ms = sorted(rest.task_run_ms(skew_stage))
    skew = run_ms[-1] / max(statistics.median(run_ms), 1)

    c = check.pass_counts(spark.read.parquet(rep_out))
    write_files, write_bytes = _files(
        [rep_out, rep_out + "_metrics", rep_out + "_checkpoints"])
    write_s = t_untraced - jobs["pipeline"] - plan_s
    layer_s = {"plan.build_s": plan_s, **self_s, "write.s": write_s}
    remainder = t_untraced - sum(layer_s.values())

    stream = stream_section(spark, tr, bench.work, args.seed)
    score = scoring_rate(list(bench.pdf["text"]))

    m = {
        **layer_s,
        "remainder.s": remainder,
        "trace.overhead_s": overhead,
        "rep.fixed_s": fixed.wall,
        "rep.fixed_frac": fixed.wall / t_untraced,
        "scan.bytes": bench.input_bytes,
        "extract.rows": counts["extract.rows"],
        "extract.errors": counts["extract.errors"],
        "quality.rows_failed": counts["quality.rows_failed"],
        "gate.pass1.rows_in": c["into_pass1"],
        "gate.pass1.decided": c["decided1"],
        "gate.pass1.persist_bytes": counts["gate.pass1.persist_bytes"],
        "gate.pass2.rows_in": c["into_pass2"],
        "gate.pass2.decided": c["decided2"],
        "gate.pass2.yield": c["decided2"] / max(c["into_pass2"], 1),
        "gate.pass2.persist_bytes": counts.get("gate.pass2.persist_bytes", 0),
        "gate.pass3.rows_in": c["into_pass3"],
        **score,
        "scrub.rows": c["scrubbed"],
        "write.files": write_files,
        "write.bytes": write_bytes,
        "stream.delta_s": stream["stream.delta_s"],
        "stream.overhead_s": stream["stream.overhead_s"],
        "stream.persisted_rdds": stream["stream.persisted_rdds"],
        "cpu.python_workers_s": cpu["python"] / kdocs,
        "cpu.jvm_s": cpu["jvm"] / kdocs,
        "cores.idle_frac": max(0.0, 1 - sum(cpu.values())
                               / (t_untraced * cores)),
        "jvm.gc_s": sum(st["jvmGcTime"] for st in stages) / 1000,
        "spill.bytes": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                           for st in stages),
        "task_skew.max_over_median": skew,
    }
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir,
                         f"{args.workload}-seed{args.seed}-spans.json"))
    detail = {"reps": [fixed, rep], "ladder_jobs_s": jobs,
              "ladders": len(ladders), "untraced_rep_s": t_untraced,
              "stream_latencies_s": stream["_latencies"],
              "stream_persisted_rdds": stream["_persisted_rdds"],
              "skew_stage": skew_stage and skew_stage["name"]}
    return m, detail
