"""Dump `.explain("formatted")` for registered queries to
plans/r<N>/<query>_<tag>.txt — the plan evidence for optimization
rounds (commit *_before.txt / *_after.txt for every touched query).
The round <N> is bench.py's: `SPARK_GRAFT_ROUND` (``13`` or ``r13``),
else one past the highest committed BENCH_r<N>.json.

Usage: python scripts/dump_plan.py <tag> <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from seqdatapipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="dump_plan", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from bench import _drop_persisted, _next_round

    queries = entrymod.queries()
    out_dir = os.path.join(_REPO, "plans", f"r{_next_round()}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        _drop_persisted(spark)
        df = queries[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
