"""n-gram Jaccard `max_doc_freq` valve: TRUE-pair loss vs cap (VERDICT
r9 #3) — plus the POSITIVE CONTROL demanded by VERDICT r10 #1: the r10
run reported 0 % loss at every cap (10–160, identical kept_true), and a
measurement instrument that cannot fail is indistinguishable from a
broken one. `CONTROL=1` now runs the same measurement over a
failing-by-construction corpus whose seeded pairs are HALF
boilerplate-only (their entire shingle overlap is over-cap template
shingles — the exact loss mode the valve's structural argument
predicts) and HALF tail-mutants (shared under-cap shingles — must
survive). The probe must report the predicted ~50 % loss, or it is
broken.

Design of the natural-corpus mode (unchanged from r10, mirrors the
simhash seeded-pair loss probe): the r9 tier synth
(`synth_docs` below) plants ~5.9 % mutant docs that replay
their id-1 neighbor with ~4 % word substitution; those (id-1, id) pairs
are the KNOWN true near-dups.

- TRUTH: `jaccard_pairs(candidates=seeded)` — the candidates path
  verifies exact Jaccard per pair against the FULL shingle index (the
  cap only applies to the all-pairs form, dedup.py:272), with join
  fan-out bounded by |seeded| x shingles-per-doc.
- PER CAP: run the capped all-pairs form, inner-join its output to the
  truth pairs; loss = 1 - kept/|truth|.

Control-corpus construction (every doc = one shared 30-word template +
a 10-word tail; template-internal shingles have doc_freq = n_docs,
over any probed cap):

- type A pair (id % 34 == 1, seed id-1): both docs carry UNIQUE tails —
  the pair's entire shingle overlap is the 28 template shingles, all
  over-cap. Exact Jaccard = 28/52 ≈ 0.54 ≥ 0.1 (a true pair), but the
  capped index holds no shared shingle → the pair can never form a
  candidate → LOST, by construction, at any cap < n_docs.
- type B pair (id % 34 == 18, seed id-1): the mutant replays the
  seed's tail with only the last word changed — 9 shared under-cap
  shingles (df=2), reported lower-bound Jaccard 9/67 ≈ 0.134 ≥ 0.1 →
  KEPT at any cap ≥ 2.

Predicted loss = |A| / (|A| + |B|) ≈ 0.5, exactly countable.

VERDICT r10 #3: every timed cell is now BRACKETED by the fixed
synthetic drift probe (tools/drift.py); records carry
{sec, probe_bracket, sec_per_probe} — cost-vs-cap conclusions use
sec_per_probe, never raw sec.

Usage: PYTHONPATH=/root/repo python tools/jaccard_loss_probe.py [out]
Env: N_DOCS (default 500000), CAPS (default "10,20,40,80,160"),
CONTROL=1 (known-loss corpus; default natural corpus).
Writes one JSON line; default out /tmp/jaccard_loss.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F

from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.llm.dedup import jaccard_pairs
from tools.drift import bracket_fields, bracketed

THRESHOLD = 0.1  # the oracle-checked operating point (__spark_entry__)
SHINGLE_N = 3

_TEMPLATE = " ".join(f"tmpl{k:02d}" for k in range(30))
TAIL_WORDS = 10

# natural corpus (the round-9 tier synth)
VOCAB = 50_000
# openings are SHORTER than the 16-char levenshtein prefix so blocks
# split on the first Zipf body word (a boilerplate opening LONGER than
# the prefix degenerates to 8 corpus-sized blocks — measured in the
# first smoke run: every candidate pair over-cap at every tier, which
# tests nothing). Half the docs get no opening at all (empty string):
# their prefix is pure body, giving the fine-grained block population.
OPENINGS = (
    "welcome to",
    "about us",
    "faq on",
    "terms of",
    "privacy",
    "notice",
    "intro to",
    "",
    "",
    "",
    "",
    "",
    "",
    "",
    "",
    "",
)


def synth_docs(spark, n: int):
    """n synthetic docs: Zipf-ish body, boilerplate opening, ~5.9%
    seeded near-dup mutants of their id-1 neighbor."""
    opening = F.element_at(
        F.array(*[F.lit(o) for o in OPENINGS]),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("open:"), F.col("seed"))), 1, 6), 16, 10).cast("bigint")
            % 16
            + 1
        ).cast("int"),
    )
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.when((F.col("id") % 17 == 1) & (F.col("id") > 0), F.col("id") - 1)
            .otherwise(F.col("id"))
            .alias("seed"),
        )
        .select(
            "doc_id",
            "seed",
            (F.col("doc_id") != F.col("seed")).alias("is_mut"),
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("len:"), F.col("seed"))), 1, 8), 16, 10).cast("bigint")
                % 60
                + 60
            ).cast("int").alias("n_words"),
            opening.alias("op"),
        )
        .select(
            "doc_id",
            F.concat(
                F.when(F.col("op") == "", F.lit("")).otherwise(F.concat(F.col("op"), F.lit(" "))),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.col("n_words")),
                        lambda i: F.when(
                            F.col("is_mut")
                            & (
                                F.conv(
                                    F.substring(F.md5(F.concat(F.lit("m"), F.col("doc_id"), F.lit(":"), i)), 1, 4),
                                    16,
                                    10,
                                ).cast("bigint")
                                % 25
                                == 0
                            ),
                            # substituted word: doc-specific, disjoint prefix
                            F.concat(
                                F.lit("x"),
                                (
                                    F.conv(
                                        F.substring(F.md5(F.concat(F.col("doc_id"), F.lit("#"), i)), 1, 8), 16, 10
                                    ).cast("bigint")
                                    % VOCAB
                                ),
                            ),
                        ).otherwise(
                            # Zipf-ish body word from the SEED stream
                            F.concat(
                                F.lit("w"),
                                F.pow(
                                    F.lit(float(VOCAB)),
                                    F.conv(
                                        F.substring(F.md5(F.concat(F.col("seed"), F.lit(":"), i)), 1, 12), 16, 10
                                    ).cast("bigint")
                                    % 1_000_000
                                    / 1_000_000.0,
                                ).cast("bigint"),
                            )
                        ),
                    ),
                    " ",
                ),
            ).alias("text"),
        )
    )


def synth_control_docs(spark, n: int):
    """The failing-by-construction corpus (module docstring): shared
    template prefix + per-type tails. Deterministic, pure expressions."""
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    is_b = (F.col("doc_id") % 34 == 18) & (F.col("doc_id") > 0)
    # tail word j: unique per doc ("u<id>x<j>"); type B replays the
    # seed's first TAIL_WORDS-1 words and swaps only the last
    tail_seed = F.when(is_b, F.col("doc_id") - 1).otherwise(F.col("doc_id"))

    def word(j):
        unique = F.concat(F.lit("u"), tail_seed, F.lit(f"x{j}"))
        if j == TAIL_WORDS - 1:
            return F.when(is_b, F.concat(F.lit("z"), F.col("doc_id"))).otherwise(unique)
        return unique

    tail = F.concat_ws(" ", *[word(j) for j in range(TAIL_WORDS)])
    return base.select(
        "doc_id",
        F.concat(F.lit(_TEMPLATE + " "), tail).alias("text"),
    )


def seeded_pairs(spark, n_docs: int):
    return (
        spark.range(n_docs)
        .filter((F.col("id") % 17 == 1) & (F.col("id") > 0))
        .select((F.col("id") - 1).alias("id_a"), F.col("id").alias("id_b"))
    )


def measure(spark, docs, seeded, caps: list[int]) -> dict:
    """Truth via the candidates path, then per-cap kept/lost counts —
    each capped run bracketed by the drift probe."""
    truth = (
        jaccard_pairs(docs, n=SHINGLE_N, threshold=THRESHOLD, candidates=seeded)
        .select("id_a", "id_b")
        .cache()
    )
    n_truth = truth.count()
    out = {"threshold": THRESHOLD, "n_true_pairs": n_truth, "caps": {}}
    print(json.dumps({"truth": n_truth}), flush=True)

    for cap in caps:
        spark.catalog.clearCache()
        truth.cache().count()  # keep truth resident across the clear

        def cell():
            capped = jaccard_pairs(
                docs, n=SHINGLE_N, threshold=THRESHOLD, max_doc_freq=cap
            )
            return capped.join(truth, ["id_a", "id_b"]).count()

        sec, bracket, kept = bracketed(spark, cell)
        out["caps"][str(cap)] = {
            "kept_true": kept,
            "loss": round(1 - kept / max(n_truth, 1), 4),
            **bracket_fields(sec, bracket),
        }
        print(json.dumps({"cap": cap, **out["caps"][str(cap)]}), flush=True)
    return out


def main() -> None:
    control = os.environ.get("CONTROL") == "1"
    n_docs = int(os.environ.get("N_DOCS", "500000"))
    caps = [int(c) for c in os.environ.get("CAPS", "10,20,40,80,160").split(",")]
    spark = get_spark("jaccard-loss-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", str(max(32, n_docs // 8000)))
    tmp = tempfile.mkdtemp(prefix="caf_jacloss_")
    try:
        path = os.path.join(tmp, "docs")
        synth = synth_control_docs if control else synth_docs
        synth(spark, n_docs).repartition(max(8, n_docs // 25_000)).write.parquet(path)
        docs = spark.read.parquet(path)
        seeded = seeded_pairs(spark, n_docs)

        out = {"n_docs": n_docs, "mode": "control" if control else "natural"}
        out.update(measure(spark, docs, seeded, caps))

        if control:
            # the prediction is exact: type A pairs (id%34==1) lost,
            # type B (id%34==18) kept, at every cap in [2, n_docs)
            n_a = sum(1 for i in range(1, n_docs) if i % 34 == 1)
            n_b = sum(1 for i in range(1, n_docs) if i % 34 == 18)
            predicted = round(n_a / max(n_a + n_b, 1), 4)
            out["predicted_loss"] = predicted
            ok = all(
                abs(c["loss"] - predicted) < 0.01 for c in out["caps"].values()
            )
            out["control_ok"] = ok
            if not ok:
                print("CONTROL FAILED: measured loss != predicted", flush=True)

        dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/jaccard_loss.json"
        with open(dest, "w") as f:
            f.write(json.dumps(out))
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
