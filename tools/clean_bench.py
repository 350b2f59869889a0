"""Calibration-gated per-query timing (round-6 measurement hygiene on
a time-shared host): a trial only COUNTS when the fixed numpy
calibration run immediately BEFORE and AFTER it is idle-class
(< --calib-max), so co-tenant bursts can never masquerade as (or
hide) a code effect. Keeps sampling each query until --accept clean
trials or --max-tries attempts; reports best clean plus every raw
sample. Methodology otherwise matches bench.py (same session factory,
noop sink, clearCache between trials, lineitem warm-up).

Usage: python tools/clean_bench.py --queries a,b --sf-dir DIR
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_extra import calib  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--accept", type=int, default=2)
    ap.add_argument("--max-tries", type=int, default=8)
    ap.add_argument("--calib-max", type=float, default=0.095)
    ap.add_argument("--wait-secs", type=int, default=30)
    args = ap.parse_args()

    from kg import contract
    from kg.session import get_spark

    spark = get_spark(app_name="kg-clean-bench",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()

    out: dict[str, dict] = {}
    for name in [q.strip() for q in args.queries.split(",") if q.strip()]:
        fn, _ = contract.Q[name]
        clean, raw = [], []
        tries = 0
        while len(clean) < args.accept and tries < args.max_tries:
            c0 = calib()["calibration_sec"]
            if c0 >= args.calib_max:
                time.sleep(args.wait_secs)
                continue
            tries += 1
            spark.sparkContext.setJobDescription(f"clean_bench:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.mode("overwrite") \
                .format("noop").save()
            dt = round(time.perf_counter() - t0, 3)
            c1 = calib()["calibration_sec"]
            spark.catalog.clearCache()
            raw.append({"sec": dt, "calib_before": c0, "calib_after": c1})
            if c1 < args.calib_max:
                clean.append(dt)
        out[name] = {"best_clean": min(clean) if clean else None,
                     "n_clean": len(clean), "raw": raw}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": args.sf_dir, "cpus": args.cpus,
                      "queries": out}))


if __name__ == "__main__":
    main()
