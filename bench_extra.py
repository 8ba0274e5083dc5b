"""Optimization-round instrumentation (guide §1): NOT the frozen bench.

Per-query isolation with the noop sink (§1.4), repeatable timing, and
``explain("formatted")`` capture for the plan-diff deliverables.  The
frozen ``bench.py`` stays the round-over-round comparator; this file
exists so optimization work can (a) time one query at a time without
the suite around it and (b) commit before/after physical plans under
``plans/r07/``.  Written plans are normalized (:func:`normalize_plan`), so
the plans of two checkouts diff line by line.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 --queries conv_near_dup
  python bench_extra.py --plans plans/r07 --suffix before   # capture plans
  python bench_extra.py --repeat 3                          # all queries
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ids a session hands out from global counters: expression ids
# (``doc_id#1234L``), exchange plan ids and RDD ids
_PLAN_IDS = [re.compile(p) for p in
             (r"(?<=#)(\d+)", r"(?<=plan_id=)(\d+)", r"(?<=RDD\[)(\d+)(?=\])")]


def normalize_plan(plan: str) -> str:
    """Renumber each kind of session-global id in ``plan`` by first
    appearance, so two runs of the same plan print the same text while
    references between nodes stay visible."""
    for pat in _PLAN_IDS:
        ids: dict[str, str] = {}
        plan = pat.sub(lambda m: ids.setdefault(m[1], str(len(ids) + 1)),
                       plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="", help="comma list; default all")
    ap.add_argument("--plans", default="", help="dir to write explain() files")
    ap.add_argument("--suffix", default="before",
                    help="plan file suffix: <query>_<suffix>.txt")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--no-time", action="store_true",
                    help="only capture plans, skip timed passes")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from sumi_agent_spark.session import get_spark

    spark = get_spark(app_name="sumi-bench-extra")
    import bench as benchmod
    benchmod._warm(spark)

    qs = entrymod.queries()
    names = [n for n in args.queries.split(",") if n] or list(qs)
    results: dict[str, list[float]] = {}
    for name in names:
        fn = qs[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(normalize_plan(plan))
        if args.no_time:
            continue
        times = []
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"extra:{name}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        results[name] = times
        print(f"{name}: {times}", file=sys.stderr, flush=True)
    if not args.no_time:
        print(json.dumps({"sf": args.sf, "queries": results}))


if __name__ == "__main__":
    main()
