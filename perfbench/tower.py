"""Tower workload: the nightly incremental re-run over a seeded lake,
through ``plans.run_tower_job`` and ``config.month_globs``; its set-up
builds the prior aggregate and a reference with cold backfills through
``plans.run_tower_jobs``.

Each table gets its own output root. ``run_tower_jobs`` with the default
``tables=("Flux", "Met")`` writes both tables into one
``(site, wateryear)`` partition, and the second table's dynamic
overwrite deletes the first one's rows (see README.md); the reference
keeps tables apart with per-table file names, and so does this
benchmark.

The traced run calls ``run_tower_job`` itself with the package functions
it composes wrapped (``traced_layers``): each call runs inside a span and
its result is materialized at the boundary. Its output must hash-equal
the untraced run's.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.config import (
    SiteConfig,
    month_globs,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.functions.time import (
    water_year_of,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.plans import (
    driver as plan_driver,
    pipeline as plan_pipeline,
    run_tower_job,
    run_tower_jobs,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.qc import FluxQCConfig

import lake as lakegen
from hashing import read_rows, rows_hash

# Every (site, table) job costs seconds of driver-side plan
# construction, so the four production sites and both tables would not
# fit the run-time budget of the whole benchmark (README.md). The Flux
# table alone reaches every tower layer (its QC runs grade_cs and
# met_qaqc). The one site measured is on the newer (V2) logger
# generation, so the generation renames and its QC configuration are on
# the measured path.
TABLES = ("Flux",)
SITES = ("BoydSouth",)
START = dt.date(2023, 4, 20)  # the prior days cross the April/May folders
PRIOR_DAYS = 14  # days already aggregated
NEW_DAYS = 3  # days the nightly run adds


def site_config(site: str) -> SiteConfig:
    if site in lakegen.V2_SITES:
        # the default QC config names Fc_molar, which V2 files lack
        return SiteConfig(site=site, ver="V2", qc=FluxQCConfig(flux_cols=("H", "LE", "FC_mass")))
    return SiteConfig(site=site)


@dataclass
class Job:
    site: str
    table: str
    globs: list[str]
    ok: bool = True
    error: str = ""

    @property
    def label(self) -> str:
        return f"{self.site}/{self.table}"


@dataclass
class Iteration:
    wall_s: float
    jobs: list[Job]
    hashes: dict = field(default_factory=dict)  # (site, table) -> hash
    rows_in: int = 0
    bytes_in: int = 0
    bytes_out: int = 0
    recall: tuple[int, int] = (0, 0)  # (survivors right, planted dups)


def day(i: int) -> dt.date:
    """Day ``i`` of the lake, 1-based."""
    return START + dt.timedelta(days=i - 1)


def _glob_files(globs: list[str]) -> list[str]:
    return sorted(f for p in globs for f in glob.glob(p.removeprefix("file://")))


class TowerLake:
    """The lake plus the exact expectations the checks compare against."""

    def __init__(self, spark: SparkSession, root: str, seed: int, n_days: int,
                 sites: tuple[str, ...]):
        self.spark = spark
        self.sites = sites
        self.lake = lakegen.generate(root, seed, START, n_days, sites, TABLES)

    def globs(self, site: str, table: str, start: dt.date, end: dt.date) -> list[str]:
        return month_globs(f"file://{self.lake.base(site, table)}", start, end)

    def window_rows(self, site, table, start, end, globs) -> int:
        """TOA5 data rows the job's scan keeps: in a globbed file and
        dated inside the window."""
        dirs = {os.path.dirname(p.removeprefix("file://")) for p in globs}
        return sum(
            1
            for r in self.lake.series[(site, table)].rows
            if start <= r.ts.date() <= end and os.path.dirname(r.file) in dirs
        )

    def check(self, it: Iteration, out_root: str, start: dt.date, end: dt.date,
              reference: dict | None = None) -> None:
        """Mark each job failed whose output breaks an expectation:
        spine rows per (site, wateryear), no duplicate (site, TIMESTAMP),
        lower RECORD kept on duplicate ticks, spikes filtered, and (for
        the incremental run) the cold-backfill hash. The output is read
        back with pyarrow, not with the engine under test."""
        wy = water_year_of(start)
        by_key = {(j.site, j.table): j for j in it.jobs}
        right = planted = 0
        for table in TABLES:
            found = sorted(
                (os.path.basename(os.path.dirname(p)), os.path.basename(p))
                for p in glob.glob(os.path.join(out_root, table, "site=*", "wateryear=*"))
            )
            for site in self.sites:
                job = by_key[(site, table)]
                e = self.lake.expect(site, table, start, end)
                planted += e.duplicate_ticks
                problems = []
                path = partition_path(out_root, table, site, wy)
                if not os.path.isdir(path):
                    problems.append("no output partition")
                else:
                    rows = read_rows(path)
                    by_ts = {r["TIMESTAMP"]: r for r in rows}
                    it.hashes[(site, table)] = rows_hash(rows)
                    if len(rows) != e.spine_ticks:
                        problems.append(f"{len(rows)} rows, expected {e.spine_ticks}")
                    if len(by_ts) != len(rows):
                        problems.append("duplicate timestamps")
                    kept = sum(
                        1 for t, rec in e.survivors.items()
                        if t in by_ts and by_ts[t]["RECORD"] == rec
                    )
                    right += kept
                    if kept != e.duplicate_ticks:
                        problems.append(f"{e.duplicate_ticks - kept} of {e.duplicate_ticks} duplicate ticks kept the wrong row")
                    bad = sum(1 for t in e.spikes if by_ts.get(t, {}).get("Tair_Filtered", 0) is not None)
                    if bad:
                        problems.append(f"{bad} of {len(e.spikes)} spikes not filtered")
                    if reference is not None and reference.get((site, table)) != it.hashes[(site, table)]:
                        problems.append("hash differs from the cold backfill")
                if len(found) != len(self.sites):
                    problems.append(f"unexpected partitions {found}")
                if problems and job.ok:
                    job.ok, job.error = False, "; ".join(problems)
        it.recall = (right, planted)

    def bytes_written(self, out_root: str) -> int:
        total = 0
        for dirpath, _, files in os.walk(out_root):
            if "site=" in dirpath:
                total += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files if not f.startswith(".")
                )
        return total


def backfill(tl: TowerLake, out_root: str, start: dt.date, end: dt.date) -> Iteration:
    """Cold ``run_tower_jobs`` over [start, end], one call per table."""
    shutil.rmtree(out_root, ignore_errors=True)
    cfgs = [site_config(s) for s in tl.sites]
    globs = {(s, t): tl.globs(s, t, start, end) for s in tl.sites for t in TABLES}
    jobs = [Job(s, t, globs[(s, t)]) for t in TABLES for s in tl.sites]
    t0 = time.perf_counter()
    results = {}
    for table in TABLES:
        results.update(
            run_tower_jobs(
                tl.spark, cfgs, lambda cfg, tb: globs[(cfg.site, tb)],
                os.path.join(out_root, table), tables=(table,),
                start_date=start, end_date=end, full_layout=True,
            )
        )
    wall = time.perf_counter() - t0
    for j in jobs:
        res = results[(j.site, j.table)]
        if isinstance(res, Exception):
            j.ok, j.error = False, repr(res)[:300]
    return Iteration(wall, jobs)


def partition_path(root: str, table: str, site: str, wy: int) -> str:
    return os.path.join(root, table, f"site={site}", f"wateryear={wy}")


# ---------------------------------------------------------------- traced


def _values_filtered(mapping: dict, flux_cols, cols: list[str]):
    """Values QC nulled: raw present, filtered/graded copy null."""
    pairs = [(f, f"{f}_Graded") for f in flux_cols]
    pairs += [(raw, f"{var}_Filtered") for var, raw in mapping.items()]
    terms = [
        F.when(F.col(raw).isNotNull() & F.col(filt).isNull(), 1).otherwise(0)
        for raw, filt in pairs if raw in cols and filt in cols
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return F.sum(total)


# The spans a traced nightly run opens, in the order run_tower_job
# reaches them (qc.grade on Flux only).
LAYER_SPANS = ("sources.toa5", "schemas.to_canonical", "operators.incremental",
               "operators.unions", "operators.dedup", "operators.gapfill",
               "qc.grade", "qc.metqc", "plans.driver.checkpoint", "sources.sinks")


@contextlib.contextmanager
def traced_layers(tracer, stats: dict):
    """Replace, for the life of the context, every package function that
    ``run_tower_job`` and ``aggregate_pipeline`` call with a wrapper that
    opens a span, calls the function and executes the frame it returns
    inside that span (``Tracer.materialize``). The traced run then calls
    ``run_tower_job`` itself, so the spans follow whatever the program
    composes. Counts observed at the boundaries go into ``stats``."""
    count = F.count(F.lit(1))
    mat = tracer.materialize
    job: dict = {}  # what one wrapper tells a later one within a job

    def add(key: str, value: float) -> None:
        stats[key] = stats.get(key, 0) + value

    def read_toa5(orig, *a, **kw):
        with tracer.span("sources.toa5"):
            df, o = mat(orig(*a, **kw), ("rows", count))
        add("toa5.rows_in", o["rows"])
        return df

    def to_canonical(orig, *a, **kw):
        with tracer.span("schemas.to_canonical"):
            return orig(*a, **kw)

    def high_watermark_date(orig, *a, **kw):
        with tracer.span("operators.incremental"):
            t = time.perf_counter()
            watermark = orig(*a, **kw)
            add("incremental.watermark_s", time.perf_counter() - t)
        return watermark

    def resolve_window(orig, *a, **kw):
        with tracer.span("operators.incremental"):
            lo, hi = orig(*a, **kw)
        add("incremental.window_days", (hi - lo).days + 1)
        return lo, hi

    def union_by_name(orig, *a, **kw):
        with tracer.span("operators.unions"):
            return orig(*a, **kw)

    def dedup_keep_richest(orig, df, *a, **kw):
        with tracer.span("operators.dedup"):
            with tracer.quiet():
                o_in = Observation(f"dedup_in{len(tracer.spans)}")
                df = df.observe(o_in, count.alias("rows"))
            df, o = mat(orig(df, *a, **kw), ("rows", count))
            with tracer.quiet():
                rows_in = o_in.get["rows"]
        add("dedup.rows_in", rows_in)
        add("dedup.rows_removed", rows_in - o["rows"])
        job["rows"] = o["rows"]
        return df

    def gap_fill(orig, *a, **kw):
        with tracer.span("operators.gapfill"):
            df, o = mat(orig(*a, **kw), ("rows", count))
        add("gapfill.ticks_filled", o["rows"] - job.pop("rows", o["rows"]))
        return df

    def grade_cs(orig, df, cfg=None, *a, **kw):
        with tracer.span("qc.grade"):
            df, _ = mat(orig(df, cfg, *a, **kw))
        job["flux_cols"] = cfg.flux_cols if cfg else FluxQCConfig().flux_cols
        return df

    def met_qaqc(orig, df, mapping=None, *a, **kw):
        with tracer.span("qc.metqc"):
            df = orig(df, mapping, *a, **kw)
            filtered = _values_filtered(mapping or {}, job.pop("flux_cols", ()), df.columns)
            df, o = mat(df, ("filtered", filtered))
        add("qc.values_filtered", o["filtered"])
        return df

    def local_checkpoint(orig, *a, **kw):
        with tracer.span("plans.driver.checkpoint"):
            return orig(*a, **kw)

    def write_partitioned(orig, *a, **kw):
        with tracer.span("sources.sinks"):
            return orig(*a, **kw)

    targets = [
        (plan_driver, read_toa5), (plan_driver, to_canonical),
        (plan_driver, high_watermark_date), (plan_driver, resolve_window),
        (plan_driver, write_partitioned), (plan_pipeline, union_by_name),
        (plan_pipeline, dedup_keep_richest), (plan_pipeline, gap_fill),
        (plan_pipeline, grade_cs), (plan_pipeline, met_qaqc),
        (ClassicDataFrame, local_checkpoint, "localCheckpoint"),
    ]

    def bind(wrap, orig):
        # a plain function, so that it binds ``self`` as a method too
        def call(*a, **kw):
            return wrap(orig, *a, **kw)
        return call

    saved = []
    try:
        for owner, wrap, *name in targets:
            name = name[0] if name else wrap.__name__
            orig = getattr(owner, name)
            saved.append((owner, name, orig))
            setattr(owner, name, bind(wrap, orig))
        yield
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)


def line_count(files: list[str]) -> int:
    n = 0
    for f in files:
        with open(f, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


class Incremental:
    """``tower_incremental``: restore the prior aggregate of days
    1..PRIOR_DAYS (untimed), then time the nightly ``run_tower_job`` per
    (site, table) over the NEW_DAYS that follow."""

    name = "tower_incremental"
    rep_s = 4.0  # one repetition on the 4-core box the benchmark was sized on
    # the watermark, union and checkpoint paths are cold after the
    # backfills; the first three nightly runs fall from about 5.5 to 4 s
    warmup_reps = 3

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.out_root = os.path.join(work, "out")
        self.prior_root = os.path.join(work, "prior")
        self.end = day(PRIOR_DAYS + NEW_DAYS)
        self.new_start = day(PRIOR_DAYS + 1)
        self.hashes = None

    def setup(self) -> None:
        self.tl = TowerLake(self.spark, os.path.join(self.work, "lake"), self.seed,
                            PRIOR_DAYS + NEW_DAYS, SITES)
        # the prior aggregate, built by the program itself, then the cold
        # backfill the resumed output must equal
        prior = backfill(self.tl, self.prior_root, day(1), day(PRIOR_DAYS))
        ref_root = os.path.join(self.work, "reference")
        ref = backfill(self.tl, ref_root, day(1), self.end)
        self.tl.check(ref, ref_root, day(1), self.end)
        print(f"[perfbench] cold backfill of {PRIOR_DAYS} days {prior.wall_s:.2f} s, "
              f"of {PRIOR_DAYS + NEW_DAYS} days {ref.wall_s:.2f} s", file=sys.stderr)
        bad = [j.error for j in prior.jobs + ref.jobs if not j.ok]
        if bad:
            raise RuntimeError(f"set-up backfills failed: {bad}")
        self.reference = ref.hashes
        shutil.rmtree(ref_root)

    def jobs(self) -> list[Job]:
        return [Job(s, t, self.tl.globs(s, t, self.new_start, self.end))
                for t in TABLES for s in SITES]

    def restore(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        shutil.copytree(self.prior_root, self.out_root)

    def _job(self, j: Job, wy: int) -> None:
        """The nightly ``run_tower_job`` of one (site, table)."""
        prev = self.spark.read.parquet(partition_path(self.out_root, j.table, j.site, wy))
        run_tower_job(
            self.spark, site_config(j.site), j.table, j.globs,
            os.path.join(self.out_root, j.table), previous_aggregate=prev,
            end_date=self.end, full_layout=True,
        )

    def iteration(self) -> Iteration:
        self.restore()
        jobs = self.jobs()
        wy = water_year_of(self.new_start)
        t0 = time.perf_counter()
        for j in jobs:
            try:
                self._job(j, wy)
            except Exception as exc:  # noqa: BLE001 - counted as a failed job
                j.ok, j.error = False, repr(exc)[:300]
        return self._finish(Iteration(time.perf_counter() - t0, jobs))

    def traced(self, tracer, stats: dict) -> Iteration:
        self.restore()
        jobs = self.jobs()
        wy = water_year_of(self.new_start)
        t0 = time.perf_counter()
        with tracer.span("run", workload=self.name), traced_layers(tracer, stats):
            for j in jobs:
                try:
                    with tracer.span("plans.driver", site=j.site, table=j.table):
                        self._job(j, wy)
                except Exception as exc:  # noqa: BLE001 - counted as a failed job
                    j.ok, j.error = False, repr(exc)[:300]
                with tracer.quiet():
                    self.spark.catalog.clearCache()
        it = self._finish(Iteration(time.perf_counter() - t0, jobs))
        missing = set(LAYER_SPANS) - {sp.name for sp in tracer.spans}
        if missing:
            # the program no longer calls these through the wrapped names;
            # their metrics read 0
            print(f"[perfbench] no span for {sorted(missing)}", file=sys.stderr)
        files = _glob_files([g for j in jobs for g in j.globs])
        stats["toa5.files"] = len(files)
        stats["toa5.lines"] = line_count(files)
        stats["sinks.files_written"] = sum(
            1 for _, _, fs in os.walk(self.out_root) for f in fs if f.endswith(".parquet")
        )
        stats["sinks.partitions_written"] = len(jobs)
        stats["sinks.bytes_written"] = it.bytes_out
        return it

    def _finish(self, it: Iteration) -> Iteration:
        """Input/output sizes, then the checks: the expectations, the
        cold-backfill hash, and the same output as the first run."""
        # the resumed window starts one day before the watermark day
        start = self.new_start - dt.timedelta(days=1)
        for j in it.jobs:
            it.rows_in += self.tl.window_rows(j.site, j.table, start, self.end, j.globs)
            it.bytes_in += sum(os.path.getsize(f) for f in _glob_files(j.globs))
        it.bytes_out = self.tl.bytes_written(self.out_root)
        self.tl.check(it, self.out_root, day(1), self.end, self.reference)
        if self.hashes is None:
            self.hashes = dict(it.hashes)
        for j in it.jobs:
            if j.ok and it.hashes.get((j.site, j.table)) != self.hashes.get((j.site, j.table)):
                j.ok, j.error = False, "output hash differs from the first run"
        return it
