"""Per-query isolation harness (guide §1: measure first; noop sink).

Not part of the driver contract — bench.py is the frozen measurement.
This file exists to time individual queries at an arbitrary SF, capture
.explain("formatted") plans, and A/B changes during optimization rounds.

Usage:
  python bench_extra.py [query ...]            # all queries if none given
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py decontaminate
  BENCH_EXTRA_PLANS=plans/r06 python bench_extra.py --suffix before ngram_jaccard
  BENCH_EXTRA_PASSES=2 python bench_extra.py dedup_near_cluster

Prints one line per query: name, per-pass seconds, best.  With
BENCH_EXTRA_PLANS set, writes <dir>/<query>_<suffix>.txt explain output.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    suffix = "plan"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i:i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    from colonnade_spark.session import env_int

    cpus = env_int("SPARK_GRAFT_CPUS", 32)
    passes = env_int("BENCH_EXTRA_PASSES", 2)
    plans_dir = os.environ.get("BENCH_EXTRA_PLANS")

    from colonnade_spark.queries import registry
    from colonnade_spark.session import get_spark
    from colonnade_spark.shipping import ensure_shipped

    spark = get_spark("bench_extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    import bench
    bench._warm_workers(spark)

    reg = registry()
    names = args or list(reg)
    unknown = [n for n in names if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    out = {}
    for name in names:
        fn, _sql = reg[name]
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            plan_txt = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan_txt)
        samples = []
        for _ in range(passes):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"samples": samples,
                     "best": min(samples) if samples else None}
        print(json.dumps({"query": name, **out[name]}), flush=True)
    print(json.dumps({"total_best": round(sum(v["best"] or 0.0
                                              for v in out.values()), 3),
                      "sf_dir": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
