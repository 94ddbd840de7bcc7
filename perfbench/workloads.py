"""Measured phase of a batch workload: ``pipeline.run_resumable``, the
library's production entry point, once per rep over the generated input."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import gen
import procstat
from langid_mr_spark import pipeline

# docs per input. At local[2] on a 4-core box a warm run_resumable rep over
# a 4-doc input (``Batch.fixed``) still takes 5-7 s: plan build, query
# planning and code generation, job launches, the metrics and checkpoint
# tables. These sizes make one rep 10-13 s, so the per-document work is
# about half of a rep; the run budget allows no larger inputs. A production run over s3-scale
# input pays the fixed cost once, so these are small-batch profiles; the
# traced run reports the fixed share as ``rep.fixed_frac``.
SIZES = {"crawl_head": 10000, "cascade_tail": 36000}
FIXED_DOCS = 4
FILES_PER_DAY = 4
WARM_SEED = 1_000_003  # the warm-up input is the same in every run


def persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def disk_bytes(spark, ids: set[int]) -> int:
    """Bytes on disk of the persisted RDDs ``ids`` (the cascade's
    DISK_ONLY persists live in spark.local.dir)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.diskSize()) for i in infos if int(i.id()) in ids)


class Unit:
    """One timed rep."""

    def __init__(self, docs: int):
        self.docs, self.wall, self.cpu, self.ok = docs, 0.0, {}, False
        self.persisted_bytes = 0  # blocks this rep persisted
        self.persisted_rdds = 0


def _timed(spark, jvm: int, docs: int, fn) -> Unit:
    u = Unit(docs)
    before = persisted_ids(spark)
    c0 = procstat.cpu_split(jvm)
    t0 = time.perf_counter()
    try:
        fn()
        u.ok = True
    except Exception:  # a failed unit is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
    u.wall = time.perf_counter() - t0
    c1 = procstat.cpu_split(jvm)
    u.cpu = {k: c1[k] - c0[k] for k in c0}
    new = persisted_ids(spark) - before
    u.persisted_bytes = disk_bytes(spark, new)
    u.persisted_rdds = len(new)
    return u


class Batch:
    """``run_resumable`` over the generated input, once per rep, each rep
    into a fresh output table.

    Every rep reads its own copy of the input under a distinct path: the
    cascade's persists outlive ``run_resumable``, and Spark's cache manager
    would serve a later rep over the same path from them, which a single
    production run never sees."""

    def __init__(self, name: str, seed: int, work: str):
        self.name, self.work = name, work
        self.pdf = gen.WORKLOADS[name](seed, SIZES[name])
        self.input_bytes = gen.write_partitioned(
            self.pdf, os.path.join(work, "input", "0"), FILES_PER_DAY)
        for kind, n in (("warm", SIZES[name]), ("fixed", FIXED_DOCS)):
            gen.write_partitioned(gen.WORKLOADS[name](WARM_SEED, n),
                                  os.path.join(work, kind, "0"), FILES_PER_DAY)
        self.used = {"input": 0, "warm": 0, "fixed": 0}
        self.outputs: list[str] = []

    @property
    def docs(self) -> int:
        return len(self.pdf)

    def fresh(self, kind: str = "input") -> str:
        """A copy of the input (or of the warm-up or fixed-cost input) no
        rep has read."""
        k = self.used[kind]
        self.used[kind] += 1
        path = os.path.join(self.work, kind, str(k))
        if k:
            shutil.copytree(os.path.join(self.work, kind, "0"), path)
        return path

    def warm_up(self, spark, kind: str) -> None:
        """One untimed rep over the fixed ``kind`` input (warm or fixed)."""
        out = os.path.join(self.work, "out", f"{kind}{self.used[kind]}")
        pipeline.run_resumable(spark, self.fresh(kind), out, run_id=kind)

    def rep(self, spark, jvm: int) -> Unit:
        src = self.fresh()
        out = os.path.join(self.work, "out", f"rep{len(self.outputs)}")
        self.outputs.append(out)
        return _timed(spark, jvm, self.docs, lambda: pipeline.run_resumable(
            spark, src, out, run_id="rep"))

    def fixed(self, spark, jvm: int) -> Unit:
        """A rep over FIXED_DOCS documents: the per-run fixed cost."""
        out = os.path.join(self.work, "out", f"fixed{self.used['fixed']}")
        src = self.fresh("fixed")
        return _timed(spark, jvm, FIXED_DOCS, lambda: pipeline.run_resumable(
            spark, src, out, run_id="fixed"))

    def measure(self, spark, jvm: int, seconds: float) -> list[Unit]:
        units: list[Unit] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            units.append(self.rep(spark, jvm))
        return units

    def last_output(self) -> str:
        return self.outputs[-1]


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
