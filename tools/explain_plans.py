"""Dump `.explain("formatted")` for bench queries to
<out_dir>/<query>_<tag>.txt, the before/after plan evidence of an
optimization change (e.g. `plans/r17/`). Usage:

    python tools/explain_plans.py <out_dir> <tag> [names...]

With no names, dumps the full bench set (HEADLINE + EXTRA_QUERIES).
Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, as bench.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import EXTRA_QUERIES, HEADLINE
from cafmeteorologyectower_azuredatalakeprocessingscripts_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("caf-explain-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names or (HEADLINE + EXTRA_QUERIES):
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
