#!/usr/bin/env python
"""Per-query isolation harness for the optimization rounds (guide §1).

bench.py keeps the headline contract; this file holds the extra
measurement machinery the optimization work needs:

* time a SUBSET of declared queries in isolation, fresh-ish (clearCache
  between runs, bench.py's own session builder), with either the bench's
  ``.count()`` action (comparable to BENCH_r*.json numbers) or a ``noop``
  sink (times every column of every row — guide §1.4);
* capture ``.explain("formatted")`` for each query into plans/r06/ as
  ``<query>_<suffix>.txt`` (the judge-checkable plan evidence);
* label jobs via ``setJobDescription`` so the UI/event logs are readable.

Usage:
    python bench_extra.py --queries a,b,c [--runs 3] [--action count|noop]
        [--explain-dir plans/r06 --suffix before] [--sf DIR]
Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from statistics import median

from bench import build_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True,
                    help="comma-separated query names from __spark_entry__.queries()")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--action", choices=("count", "noop"), default="count")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qmap = entry_mod.queries()
    names = [n for n in args.queries.split(",") if n]
    out: dict[str, dict] = {}
    for name in names:
        fn = qmap[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"),
                "w",
            ) as fo:
                fo.write(txt)
        if args.runs == 0:
            out[name] = {"explained": True}
            print(json.dumps({name: out[name]}), flush=True)
            continue
        runs = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [{args.action}]")
            t = time.perf_counter()
            df = fn(spark, args.sf)
            if args.action == "count":
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"median": round(median(runs), 3), "runs": runs}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"sf": args.sf, "action": args.action, "results": out}))


if __name__ == "__main__":
    main()
