"""Shared drift-bracket instrumentation for the probe tools (VERDICT
r10 #3: TIER10's cost column ran 99→61→327 s across caps — non-monotone
5× — because the probe tools never carried the bracket rule bench.py
has, so any cost-vs-cap or tier-ratio conclusion inherited up-to-3× box
noise).

The probe here is SYNTHETIC (range → xxhash64 → sum), not a parquet
query, because probe tools run against throwaway synth corpora in temp
dirs — there is no stable on-disk table to scan, and the quantity being
normalized out is box CPU throughput, which a pure-codegen aggregation
measures directly. Zero code changes to this probe are allowed for the
same reason pricing_summary is frozen in bench.py.

Usage:
    from tools.drift import bracketed
    sec, bracket = bracketed(spark, lambda: <run the timed cell>)
    # record {"sec": sec, "probe_bracket": bracket,
    #         "sec_per_probe": sec / mean(bracket)}

Reading rule (DECISIONS r11): `sec` is raw wall time; `sec_per_probe`
is the drift-cancelled number — cross-tier and cross-cap ratios use
it. A bracket whose pre/post differ by >1.5× marks the cell itself as
drift-contaminated; re-run it before concluding anything.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

# ~0.5 s of pure whole-stage-codegen work on an idle box: large
# enough to swamp job-submission overhead and scheduler jitter (the
# first cut at 150M ran 0.13 s and its brackets were 30-50% noisy),
# small enough to bracket every timed cell cheaply
_PROBE_ROWS = 600_000_000
N_RUNS_PROBE = 3


def drift_probe(spark) -> float:
    """Min-of-3 of the fixed synthetic probe, in seconds."""
    best = float("inf")
    for _ in range(N_RUNS_PROBE):
        t0 = time.perf_counter()
        # % 2^20 keeps the ANSI-mode sum far from int64 overflow
        spark.range(_PROBE_ROWS).select(
            F.sum(F.xxhash64("id") % 1048576).alias("s")
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def bracketed(spark, cell) -> tuple[float, list[float], object]:
    """Run ``cell()`` with a drift probe immediately before and after.

    Returns ``(sec, [probe_pre, probe_post], cell_result)``. Normalize
    with ``sec / ((probe_pre + probe_post) / 2)`` for cross-cell
    comparisons (the bench.py READING RULE, carried into probe tools).
    """
    pre = drift_probe(spark)
    t0 = time.perf_counter()
    result = cell()
    sec = round(time.perf_counter() - t0, 2)
    post = drift_probe(spark)
    return sec, [pre, post], result


def bracket_fields(sec: float, bracket: list[float]) -> dict:
    """The three fields every probe-tool record now carries."""
    mean = (bracket[0] + bracket[1]) / 2
    return {
        "sec": sec,
        "probe_bracket": bracket,
        "sec_per_probe": round(sec / mean, 2) if mean > 0 else None,
    }


# --- pure-Python probe (r13) ------------------------------------------
# The Spark probe above measures JVM codegen throughput. r13's JPEG
# adjudication showed host steal does NOT degrade CPython and the JVM
# 1:1 (Python-stage queries ran 1.4-1.7x their JVM-probe prediction
# under load 6-13 with zero local consumers) — so interpreter-bound
# cells (the codec kernels, any pure-Python A/B) must be read against
# an interpreter-bound probe (tools/adjudicate.py records one per
# round). Same zero-change rule as the Spark probe.
_PY_PROBE_ITERS = 2_000_000


def py_probe() -> float:
    """Min-of-3 fixed xorshift loop, ~0.25 s of pure CPython bytecode
    on an idle box, in seconds."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0x9E3779B9
        s = 0
        for _ in range(_PY_PROBE_ITERS):
            x ^= (x << 13) & 0xFFFFFFFF
            x ^= x >> 17
            x ^= (x << 5) & 0xFFFFFFFF
            s += x & 1023
        best = min(best, time.perf_counter() - t0)
    assert s >= 0  # keep the loop un-eliminable and s referenced
    return round(best, 3)

