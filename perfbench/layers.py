"""Per-layer metrics of a traced run: every name, its unit and which
direction is better, and how each is computed from the spans, the
event-log counters and the counts observed at span boundaries.

Every traced run reports every metric; a layer the workload does not
reach reads 0.
"""

from __future__ import annotations

from spans import Counters, Tracer

# Spans that get Spark's totals (ENGINE). operators.incremental is left
# out: its one Spark job is the watermark aggregate, which
# operators.incremental.watermark_s already times, and the per-layer list
# has room for 128 metrics.
TOWER_SPANS = (
    "sources.toa5",
    "operators.dedup",
    "operators.gapfill",
    "qc.grade",
    "qc.metqc",
    "sources.sinks",
)
LLM_SPANS = (
    "llm.dedup.exact",
    "llm.dedup.shingles",
    "llm.dedup.minhash",
    "llm.dedup.lsh",
    "llm.dedup.verify",
    "llm.dedup.jaccard",
    "llm.similarity.semdedup",
)
# Spark's totals for every layer span. shuffle_bytes is what the span's
# tasks wrote to shuffle; in one local process every such byte is read
# back once, so the read side is not reported separately.
ENGINE = (
    ("spark_jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("gc_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
_HIGHER = {
    "llm.dedup.lsh.useful_ratio",
    "llm.dedup.jaccard.useful_ratio",
    "llm.dedup.verify.pairs",
    "llm.dedup.jaccard.pairs",
    "llm.dedup.exact.dup_groups",
    "llm.similarity.semdedup.dropped",
}
NAMED = (
    ("sources.toa5.self_s", "s"),
    ("sources.toa5.rows_in", "rows"),
    ("sources.toa5.rows_dropped", "rows"),
    ("sources.toa5.bytes_read", "bytes"),
    ("sources.toa5.files", "count"),
    ("operators.incremental.watermark_s", "s"),
    ("operators.incremental.window_days", "days"),
    ("operators.dedup.self_s", "s"),
    ("operators.dedup.rows_in", "rows"),
    ("operators.dedup.rows_removed", "rows"),
    ("operators.gapfill.self_s", "s"),
    ("operators.gapfill.ticks_filled", "rows"),
    ("qc.grade.self_s", "s"),
    ("qc.metqc.self_s", "s"),
    ("qc.values_filtered", "count"),
    ("sources.sinks.write_s", "s"),
    ("sources.sinks.bytes_written", "bytes"),
    ("sources.sinks.files_written", "count"),
    ("sources.sinks.partitions_written", "count"),
    ("plans.driver.driver_overhead_s", "s"),
    ("plans.driver.py4j_calls", "count"),
    ("plans.driver.checkpoint_s", "s"),
    ("plans.driver.spark_jobs", "count"),
    ("plans.driver.tasks", "count"),
    ("plans.driver.executor_run_s", "s"),
    ("plans.driver.gc_s", "s"),
    ("plans.driver.spill_bytes", "bytes"),
    ("plans.driver.peak_exec_mem_mb", "MB"),
    ("llm.dedup.exact.self_s", "s"),
    ("llm.dedup.exact.dup_groups", "count"),
    ("llm.dedup.shingles.self_s", "s"),
    ("llm.dedup.shingles.rows", "rows"),
    ("llm.dedup.minhash.self_s", "s"),
    ("llm.dedup.lsh.self_s", "s"),
    ("llm.dedup.lsh.candidates", "pairs"),
    ("llm.dedup.lsh.useful_ratio", "ratio"),
    ("llm.dedup.verify.self_s", "s"),
    ("llm.dedup.verify.pairs", "pairs"),
    ("llm.dedup.jaccard.self_s", "s"),
    ("llm.dedup.jaccard.join_rows", "rows"),
    ("llm.dedup.jaccard.pairs", "pairs"),
    ("llm.dedup.jaccard.useful_ratio", "ratio"),
    ("llm.similarity.semdedup.self_s", "s"),
    ("llm.similarity.semdedup.construct_s", "s"),
    ("llm.similarity.semdedup.py4j_calls", "count"),
    ("llm.similarity.semdedup.dropped", "count"),
    ("trace.overhead_s", "s"),
    # the process tree's peak resident memory: informational, it varies
    # by a quarter or more from run to run with the program's default heap
    ("peak_rss_mb", "MB"),
)


def spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out = [(n, u) for n, u in NAMED]
    out += [(f"{s}.{m}", u) for s in TOWER_SPANS + LLM_SPANS for m, u in ENGINE]
    return [(n, u, "higher" if n in _HIGHER else "lower") for n, u in out]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def compute(tracer: Tracer, per_span: dict[int, Counters], stats: dict,
            overhead_s: float) -> dict[str, float]:
    """Every per-layer metric of one traced iteration."""
    spans = tracer.spans
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def subtree(sid: int) -> Counters:
        c = Counters()
        c.add(per_span.get(sid, Counters()))
        for k in kids.get(sid, []):
            c.add(subtree(k))
        return c

    by_name: dict[str, Counters] = {}
    self_s: dict[str, float] = {}
    for s in spans:
        by_name.setdefault(s.name, Counters()).add(subtree(s.id))
        self_s[s.name] = self_s.get(s.name, 0.0) + tracer.self_time(s)
    c = lambda name: by_name.get(name, Counters())  # noqa: E731
    st = lambda key: stats.get(key, 0)  # noqa: E731

    drivers = [s for s in spans if s.name == "plans.driver"]
    overhead = sum(s.duration - subtree(s.id).job_time() for s in drivers)
    jaccard_join = sum(
        v for (node, metric), v in c("llm.dedup.jaccard").sql.items()
        if "Join" in node and metric == "number of output rows"
    )
    m = {
        "sources.toa5.self_s": self_s.get("sources.toa5", 0.0),
        "sources.toa5.rows_in": st("toa5.rows_in"),
        "sources.toa5.rows_dropped": st("toa5.lines") - st("toa5.rows_in"),
        "sources.toa5.bytes_read": c("sources.toa5").input_bytes,
        "sources.toa5.files": st("toa5.files"),
        "operators.incremental.watermark_s": st("incremental.watermark_s"),
        "operators.incremental.window_days": st("incremental.window_days"),
        "operators.dedup.self_s": self_s.get("operators.dedup", 0.0),
        "operators.dedup.rows_in": st("dedup.rows_in"),
        "operators.dedup.rows_removed": st("dedup.rows_removed"),
        "operators.gapfill.self_s": self_s.get("operators.gapfill", 0.0),
        "operators.gapfill.ticks_filled": st("gapfill.ticks_filled"),
        "qc.grade.self_s": self_s.get("qc.grade", 0.0),
        "qc.metqc.self_s": self_s.get("qc.metqc", 0.0),
        "qc.values_filtered": st("qc.values_filtered"),
        "sources.sinks.write_s": self_s.get("sources.sinks", 0.0),
        "sources.sinks.bytes_written": st("sinks.bytes_written"),
        "sources.sinks.files_written": st("sinks.files_written"),
        "sources.sinks.partitions_written": st("sinks.partitions_written"),
        "plans.driver.driver_overhead_s": overhead,
        "plans.driver.py4j_calls": sum(s.py4j_calls for s in drivers),
        "plans.driver.checkpoint_s": self_s.get("plans.driver.checkpoint", 0.0),
        "plans.driver.spark_jobs": c("plans.driver").spark_jobs,
        "plans.driver.tasks": c("plans.driver").tasks,
        "plans.driver.executor_run_s": c("plans.driver").executor_run_s,
        "plans.driver.gc_s": c("plans.driver").gc_s,
        "plans.driver.spill_bytes": c("plans.driver").spill_bytes,
        "plans.driver.peak_exec_mem_mb": c("plans.driver").peak_exec_mem_mb,
        "llm.dedup.exact.self_s": self_s.get("llm.dedup.exact", 0.0),
        "llm.dedup.exact.dup_groups": st("exact.dup_groups"),
        "llm.dedup.shingles.self_s": self_s.get("llm.dedup.shingles", 0.0),
        "llm.dedup.shingles.rows": st("shingles.rows"),
        "llm.dedup.minhash.self_s": self_s.get("llm.dedup.minhash", 0.0),
        "llm.dedup.lsh.self_s": self_s.get("llm.dedup.lsh", 0.0),
        "llm.dedup.lsh.candidates": st("lsh.candidates"),
        "llm.dedup.lsh.useful_ratio": _ratio(st("verify.pairs"), st("lsh.candidates")),
        "llm.dedup.verify.self_s": self_s.get("llm.dedup.verify", 0.0),
        "llm.dedup.verify.pairs": st("verify.pairs"),
        "llm.dedup.jaccard.self_s": self_s.get("llm.dedup.jaccard", 0.0),
        "llm.dedup.jaccard.join_rows": jaccard_join,
        "llm.dedup.jaccard.pairs": st("jaccard.pairs"),
        "llm.dedup.jaccard.useful_ratio": _ratio(st("jaccard.pairs"), jaccard_join),
        "llm.similarity.semdedup.self_s": self_s.get("llm.similarity.semdedup", 0.0),
        "llm.similarity.semdedup.construct_s": st("semdedup.construct_s"),
        "llm.similarity.semdedup.py4j_calls": st("semdedup.py4j_calls"),
        "llm.similarity.semdedup.dropped": st("semdedup.dropped"),
        "trace.overhead_s": overhead_s,
        "peak_rss_mb": st("peak_rss_mb"),
    }
    for s in TOWER_SPANS + LLM_SPANS:
        for metric, _ in ENGINE:
            m[f"{s}.{metric}"] = getattr(c(s), metric)
    return m
