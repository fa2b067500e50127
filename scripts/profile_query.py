"""Isolation profiler for one or more registered queries.

For each named query: build + execute (noop sink) N times in a fresh
session, print per-run wall seconds, and on request a cProfile of the
steady run split into driver-Python time vs py4j/JVM wait — the split
that tells you whether to attack driver loops or the Spark plan — and
the formatted physical plan.

Usage:
  python scripts/profile_query.py NAME [NAME ...] [--runs N] [--cprofile]
  python scripts/profile_query.py NAME [NAME ...] --explain [--out DIR]

``--explain`` prints each query's ``explain("formatted")`` plan, or with
``--out DIR`` writes it to ``DIR/NAME.txt`` (run once before and once
after a plan change, into two dirs, to keep the before/after evidence).
The sf dir is ``$SPARK_GRAFT_SF_DIR`` (default: ``SF_DIR`` below).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cprofile", action="store_true")
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--out", metavar="DIR")
    args = ap.parse_args()
    if args.out and not args.explain:
        ap.error("--out needs --explain")

    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.session import get_spark

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        ap.error(f"unregistered queries {unknown}")

    spark = get_spark("profile")

    def run(name: str) -> float:
        t0 = time.time()
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # warmup
    run("q1_pricing_summary")

    for name in args.names:
        times = [round(run(name), 3) for _ in range(args.runs)]
        print(f"{name}: {times}  min={min(times, default=None)}")
        if args.explain:
            txt = formatted_plan(spark, QUERIES[name](spark, SF_DIR))
            if args.out:
                os.makedirs(args.out, exist_ok=True)
                path = os.path.join(args.out, f"{name}.txt")
                with open(path, "w") as f:
                    f.write(txt)
                print(f"wrote {path} ({len(txt)} bytes)")
            else:
                print(txt)
        if args.cprofile:
            import cProfile
            import pstats

            pr = cProfile.Profile()
            pr.enable()
            run(name)
            pr.disable()
            st = pstats.Stats(pr)
            st.sort_stats("cumulative")
            st.print_stats(30)


if __name__ == "__main__":
    main()
