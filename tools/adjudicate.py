"""Interleaved ratio test for bench flags: is a query's probe ratio
really elevated against its frozen BASELINE_RATIO.json value, or is
the flag host variance?

Method (ADJUDICATE_r15_close.json finding: wide interleaves measure
cold start, not steady state, so keep the interleave narrow):
1. narrow interleave, <=4 query legs: N_ROUNDS rounds of
   [probe, q1..qn] in one process, min basis;
2. warm-consecutive control: per query, N_WARM back-to-back reps
   AFTER the interleave (same process, caches cleared between reps),
   min basis against the SAME probe minimum.
Verdict: in-band if EITHER control's min(q)/min(probe) is within
TOL x frozen (the r15 precedent: dedup_ngram_jaccard / sessionize
read 1.8x interleaved but 1.09/1.06 warm).

Frozen ratios load from BASELINE_RATIO.json at runtime; every named
query must exist there. An old-vs-new A/B is this tool run once in
each checkout.

Usage: python tools/adjudicate.py <out.json> <query>...
Env: N_ROUNDS (default 6), N_WARM (default 4), SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data, as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark
from tools.drift import py_probe

PROBE = "pricing_summary"
TOL = 1.35
N_ROUNDS = int(os.environ.get("N_ROUNDS", "6"))
N_WARM = int(os.environ.get("N_WARM", "4"))


def load_frozen(names: list[str]) -> dict[str, float]:
    with open(os.path.join(ROOT, "BASELINE_RATIO.json")) as f:
        d = json.load(f)
    table = {**d["ratio_to_probe"], **d["extra_ratio_to_probe"]}
    missing = [n for n in names if n not in table]
    assert not missing, f"names not in BASELINE_RATIO.json: {missing}"
    return {n: float(table[n]) for n in names}


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_path, names = sys.argv[1], sys.argv[2:]
    frozen = load_frozen(names)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("caf-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def t(name: str) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # JVM/Arrow warmup outside the measured window
    qs["wateryear_rollup"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    inter: dict[str, list[float]] = {PROBE: [], **{n: [] for n in names}}
    py_probes: list[float] = []
    for r in range(N_ROUNDS):
        py_probes.append(py_probe())
        inter[PROBE].append(t(PROBE))
        for n in names:
            inter[n].append(t(n))
        print(
            json.dumps(
                {"round": r, **{k: round(v[-1], 3) for k, v in inter.items()}}
            ),
            flush=True,
        )

    warm: dict[str, list[float]] = {}
    for n in names:
        warm[n] = [t(n) for _ in range(N_WARM)]
        print(json.dumps({"warm": n, "sec": [round(x, 3) for x in warm[n]]}),
              flush=True)
    # probe re-read after the warm block so late drift is visible
    warm_probe = [t(PROBE) for _ in range(3)]

    probe_min = min(min(inter[PROBE]), min(warm_probe))
    out: dict = {
        "_provenance": (
            f"Narrow interleave x {N_ROUNDS} ({len(names)} query legs) + "
            f"{N_WARM} warm-consecutive reps per query at {sf_dir}, "
            "min basis, against frozen BASELINE_RATIO.json ratios."
        ),
        "probe_min": round(probe_min, 3),
        "probe_rounds": [round(x, 3) for x in inter[PROBE]],
        "probe_after_warm": [round(x, 3) for x in warm_probe],
        "py_probe_per_round": py_probes,
        "queries": {},
    }
    n_elevated = 0
    for n in names:
        ratio_i = min(inter[n]) / probe_min
        ratio_w = min(warm[n]) / probe_min
        rel_i = ratio_i / frozen[n]
        rel_w = ratio_w / frozen[n]
        ok = rel_i <= TOL or rel_w <= TOL
        if not ok:
            n_elevated += 1
        out["queries"][n] = {
            "interleaved_sec": [round(x, 3) for x in inter[n]],
            "warm_sec": [round(x, 3) for x in warm[n]],
            "ratio_interleaved": round(ratio_i, 3),
            "ratio_warm": round(ratio_w, 3),
            "frozen": frozen[n],
            "rel_interleaved": round(rel_i, 2),
            "rel_warm": round(rel_w, 2),
            "verdict": "in-band (flag = host variance)"
            if ok
            else "ELEVATED on both controls — fix or re-freeze",
        }
        print(json.dumps({n: out["queries"][n]}), flush=True)
    out["n_elevated"] = n_elevated

    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
