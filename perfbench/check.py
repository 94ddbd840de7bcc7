"""Correctness checks and cascade pass counts, run outside the timed phase.

The program's output is compared with the row-at-a-time oracle
(``oracle.process_one``) on a deterministic sample of urls, and per-pass
counts are derived from the output's own columns.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from langid_mr_spark import constants as C
from langid_mr_spark import oracle

FIELDS = ("keep", "drop_reason", "language", "gate_decision", "scrubbed_text")


def sample_urls(pdf: pd.DataFrame, seed: int, k: int) -> list[str]:
    """The ``k`` urls with the smallest seeded hash: same seed, same sample."""
    key = lambda u: hashlib.sha1(f"{seed}:{u}".encode()).digest()  # noqa: E731
    return sorted(pdf["url"], key=key)[:k]


def oracle_mismatches(spark, out_path: str, pdf: pd.DataFrame,
                      urls: list[str]) -> list[dict]:
    """Rows of the sample whose FIELDS differ from ``oracle.process_one``
    (a url missing from the output counts as a mismatch)."""
    got = {r["url"]: r.asDict() for r in spark.read.parquet(out_path)
           .filter(F.col("url").isin(urls)).select("url", *FIELDS).collect()}
    src = pdf.set_index("url")
    bad = []
    for u in urls:
        row = src.loc[u]
        want = oracle.process_one(u, row["html"], row["text"])
        have = got.get(u)
        diff = [f for f in FIELDS if have is None or have[f] != want[f]]
        if diff:
            bad.append({"url": u, "fields": diff})
    return bad


def pass_counts(df) -> dict[str, int]:
    """Rows decided by each cascade pass, from gate_decision,
    score_meta.vad_used and detection_method. Error rows after pass 1 carry
    no detection method and are counted with pass 2."""
    vad = F.col("score_meta.vad_used")
    method = F.col("detection_method")
    gated = F.col("gate_decision").isNotNull()
    third = F.coalesce(vad & ((method == C.METHOD_FALLBACK)
                              | (F.col("gate_decision")
                                 == C.DECISION_STRICT_REJECT)), F.lit(False))
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(~gated, 1)).alias("invalid"),
        F.count(F.when(gated & ~vad, 1)).alias("decided1"),
        F.count(F.when(gated & vad & ~third, 1)).alias("decided2"),
        F.count(F.when(gated & third, 1)).alias("decided3"),
        F.count(F.when(F.col("keep") & ~F.col("score_meta.music_only")
                       & F.col("language").isin("en", "fr"), 1)).alias("scrubbed"),
        F.countDistinct("url").alias("distinct_urls"),
    ).first().asDict()
    r["into_pass1"] = r["rows"] - r["invalid"]
    r["into_pass2"] = r["into_pass1"] - r["decided1"]
    r["into_pass3"] = r["into_pass2"] - r["decided2"]
    return r


# mix targets per workload: (description, predicate over pass_counts)
MIX_TARGETS = {
    "crawl_head": ("decided1 >= 0.9 * into_pass1",
                   lambda c: c["decided1"] >= 0.9 * c["into_pass1"]),
    "cascade_tail": ("into_pass3 >= 0.7 * into_pass1",
                     lambda c: c["into_pass3"] >= 0.7 * c["into_pass1"]),
}
