"""Dump one formatted physical plan per named query to a file.

Usage: SPARK_GRAFT_PLANS_ROUND=ROUND python tools/dump_query_plan.py OUT_SUFFIX QUERY [QUERY ...]
Writes plans/<ROUND>/<query>_<OUT_SUFFIX>.txt for each query at sf0.1
(SPARK_GRAFT_SF_DIR overrides the scale directory). ROUND is required,
so a run never overwrites an earlier round's record by default.

Exchange ids are written as ``[plan_id=#]``: the JVM numbers them by the
physical plans it built before, the eager work inside a query callable
included, so a byte compare of two dumps compares the plan trees only.
Attribute ids (``#N``) and lambda names count every expression the JVM
built before as well: to compare two versions, dump each query in its
own process.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    plans_round = os.environ.get("SPARK_GRAFT_PLANS_ROUND")
    if not plans_round or len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    suffix = sys.argv[1]
    names = sys.argv[2:]
    from xlearning_spark.engine import build_session
    from xlearning_spark.queries import registry
    import xlearning_spark.queries  # noqa: F401

    spark = build_session(app_name="dump_query_plan", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = registry.get(name).spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=#]", plan)
        out_dir = os.path.join(REPO, "plans", plans_round)
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print("wrote", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
