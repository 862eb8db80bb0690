"""Corpus dedup workload: exact dedup, MinHash-LSH candidates verified by
Jaccard, the exact n-gram Jaccard self-join and SemDeDup over a seeded
corpus, through the ``llm`` public entry points. It touches no tower
layer, so it is the no-change control for tower changes (and the tower
workload is the control for ``llm`` changes).

Each step's result is written as parquet: that write is the committed
result the wall time runs to, and what the checks read back.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    shingles,
)
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.similarity import (
    semdedup,
)

import docs as docgen
from hashing import read_rows, rows_hash

N_BASE = 2500  # base documents; planted copies come on top
EXACT_FRAC = 0.02
NEAR_FRAC = 0.10
ZIPF_S = 1.1
N_VECS = 2500
DIM = 64
NEAR_VEC_FRAC = 0.05
N_CLUSTERS = 16  # semdedup's default quantizer size
THRESHOLD = 0.5  # Jaccard, for the LSH verify and the self-join alike
STEPS = ("exact", "verify", "jaccard", "semdedup")


@dataclass
class Step:
    label: str
    ok: bool = True
    error: str = ""


@dataclass
class Iteration:
    wall_s: float
    jobs: list[Step]
    hashes: dict = field(default_factory=dict)
    rows_in: int = 0
    bytes_in: int = 0
    bytes_out: int = 0
    recall: tuple[int, int] = (0, 0)  # (verified pairs, self-join pairs)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if not f.startswith(".")
    )


class CorpusDedup:
    name = "corpus_dedup"
    rep_s = 8.5  # one repetition on the 4-core box the benchmark was sized on
    # the first run in a fresh JVM takes about twice as long as later
    # ones, and the second still about a quarter longer
    warmup_reps = 2

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.out = os.path.join(work, "out")
        self.hashes = None

    def setup(self) -> None:
        self.corpus = docgen.generate(
            os.path.join(self.work, "corpus"), self.seed, N_BASE, EXACT_FRAC,
            NEAR_FRAC, ZIPF_S, N_VECS, DIM, NEAR_VEC_FRAC, N_CLUSTERS,
        )
        c = self.corpus
        self.bytes_in = os.path.getsize(c.docs_path) + os.path.getsize(c.vecs_path)
        self.must_pair = {
            (a, b) for a, b in c.near_pairs
            if docgen.jaccard(c.texts[a], c.texts[b]) >= THRESHOLD
        } | {(g[0], m) for g in c.exact_groups for m in g[1:]}

    def _inputs(self):
        return (self.spark.read.parquet(self.corpus.docs_path),
                self.spark.read.parquet(self.corpus.vecs_path))

    def run(self, out: str) -> float:
        shutil.rmtree(out, ignore_errors=True)
        d, v = self._inputs()
        t0 = time.perf_counter()
        exact_dedup_groups(d).write.parquet(os.path.join(out, "exact"))
        sh = shingles(d).persist()
        sig = minhash_signatures(d, shingles_df=sh, with_sizes=True).persist()
        cand = minhash_lsh_pairs(d, shingles_df=sh, sig_df=sig)
        jaccard_pairs(
            d, threshold=THRESHOLD, candidates=cand, shingles_df=sh, sizes_df=sig
        ).write.parquet(os.path.join(out, "verify"))
        jaccard_pairs(d, threshold=THRESHOLD, shingles_df=sh).write.parquet(
            os.path.join(out, "jaccard")
        )
        cells: list = []
        semdedup(v, n_centroids=N_CLUSTERS, cells_out=cells).write.parquet(
            os.path.join(out, "semdedup")
        )
        wall = time.perf_counter() - t0
        for df in (sh, sig, *cells):
            df.unpersist()
        return wall

    def iteration(self) -> Iteration:
        it = Iteration(self.run(self.out), [Step(s) for s in STEPS])
        self.check(it)
        return it

    def traced(self, tracer, stats: dict) -> Iteration:
        out = self.out
        shutil.rmtree(out, ignore_errors=True)
        d, v = self._inputs()
        mat = tracer.materialize
        count = F.count(F.lit(1))
        t0 = time.perf_counter()
        with tracer.span("run", workload=self.name):
            with tracer.span("llm.dedup.exact"):
                _, o = mat(
                    exact_dedup_groups(d),
                    ("groups", F.sum(F.when(F.col("n_dups") > 1, 1).otherwise(0))),
                    path=os.path.join(out, "exact"),
                )
                stats["exact.dup_groups"] = o["groups"]
            with tracer.span("llm.dedup.shingles"):
                sh, o = mat(shingles(d), ("rows", count))
                stats["shingles.rows"] = o["rows"]
            with tracer.span("llm.dedup.minhash"):
                sig, _ = mat(minhash_signatures(d, shingles_df=sh, with_sizes=True))
            with tracer.span("llm.dedup.lsh"):
                cand, o = mat(minhash_lsh_pairs(d, shingles_df=sh, sig_df=sig), ("rows", count))
                stats["lsh.candidates"] = o["rows"]
            with tracer.span("llm.dedup.verify"):
                _, o = mat(
                    jaccard_pairs(d, threshold=THRESHOLD, candidates=cand,
                                  shingles_df=sh, sizes_df=sig),
                    ("rows", count), path=os.path.join(out, "verify"),
                )
                stats["verify.pairs"] = o["rows"]
            with tracer.span("llm.dedup.jaccard"):
                _, o = mat(
                    jaccard_pairs(d, threshold=THRESHOLD, shingles_df=sh),
                    ("rows", count), path=os.path.join(out, "jaccard"),
                )
                stats["jaccard.pairs"] = o["rows"]
            with tracer.span("llm.similarity.semdedup"):
                cells: list = []
                calls0, t = tracer.py4j.calls, time.perf_counter()
                sem = semdedup(v, n_centroids=N_CLUSTERS, cells_out=cells)
                stats["semdedup.construct_s"] = time.perf_counter() - t
                stats["semdedup.py4j_calls"] = tracer.py4j.calls - calls0
                _, o = mat(
                    sem, ("dropped", F.sum(F.when(~F.col("keep"), 1).otherwise(0))),
                    path=os.path.join(out, "semdedup"),
                )
                stats["semdedup.dropped"] = o["dropped"]
        it = Iteration(time.perf_counter() - t0, [Step(s) for s in STEPS])
        with tracer.quiet():
            self.spark.catalog.clearCache()
        self.check(it)
        return it

    def check(self, it: Iteration) -> None:
        """Exact groups equal the planted ones, LSH-verified pairs are a
        subset of the self-join, every planted pair above the threshold
        is in the self-join, and every output hashes the same as in the
        first run of this seed. (SemDeDup is approximate by design: a
        near-copy whose base falls in another cluster is kept, so only
        its determinism is checked.) The results are read back with
        pyarrow, not with the engine under test."""
        steps = {s.label: s for s in it.jobs}

        def fail(step: str, why: str) -> None:
            if steps[step].ok:
                steps[step].ok, steps[step].error = False, why

        rows = {name: read_rows(os.path.join(self.out, name)) for name in STEPS}
        got = {(r["keeper_id"], r["n_dups"]) for r in rows["exact"] if r["n_dups"] > 1}
        want = {(g[0], len(g)) for g in self.corpus.exact_groups}
        if got != want:
            fail("exact", f"{len(got ^ want)} exact groups differ from the planted ones")
        verified, joined = ({(r["id_a"], r["id_b"]) for r in rows[n]} for n in ("verify", "jaccard"))
        if not verified <= joined:
            fail("verify", f"{len(verified - joined)} verified pairs not in the self-join")
        missing = self.must_pair - joined
        if missing:
            fail("jaccard", f"{len(missing)} planted pairs missing from the self-join")
        it.recall = (len(verified), len(joined))
        it.hashes = {name: rows_hash(r) for name, r in rows.items()}
        if self.hashes is None:
            self.hashes = dict(it.hashes)
        for name in STEPS:
            if it.hashes[name] != self.hashes[name]:
                fail(name, "output hash differs from the first run")
        it.rows_in = self.corpus.n_docs + self.corpus.n_vecs
        it.bytes_in = self.bytes_in
        it.bytes_out = _dir_bytes(self.out)
