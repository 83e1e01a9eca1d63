"""Isolated per-query bench — same methodology as bench.py (sf0.001
JIT warmup, 3 timed noop-sink iterations, min/med/max) but for a NAMED
subset of queries, with bracketing calibration probes so a reading is
normalizable against the committed idle reference. For A/B measurement
of a single optimization without paying a full 41-query headline run.

Usage: python tools/isolate_bench.py q1 [q2 ...] [--n 3]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        del args[i : i + 2]
    names = [a for a in args if not a.startswith("--")]

    from logprep_spark.plans import catalog
    from logprep_spark.session import get_spark

    spark = get_spark("logprep-spark-isolate")
    qs = catalog.queries()
    catalog.tables(spark, SF_DIR)

    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    def calib() -> float:
        t0 = time.time()
        spark.range(50_000_000).selectExpr("sum(id * 2) AS s").write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    li_path = os.path.join(SF_DIR, "lineitem.parquet")

    def calib_scan() -> float:
        t0 = time.time()
        li = spark.read.parquet(li_path)
        cols = ", ".join(li.columns)
        li.selectExpr(f"bit_xor(xxhash64({cols})) AS h").write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    calib()
    calib_scan()
    pre = {"calib_s": round(min(calib() for _ in range(3)), 3),
           "calib_scan_s": round(min(calib_scan() for _ in range(3)), 3)}

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"isolate: {name}")
        ts = []
        for _ in range(n):
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.time() - t0)
        ts.sort()
        out[name] = {
            "min": round(ts[0], 3),
            "med": round(ts[len(ts) // 2], 3),
            "max": round(ts[-1], 3),
        }
    post = {"calib_s": round(min(calib() for _ in range(3)), 3),
            "calib_scan_s": round(min(calib_scan() for _ in range(3)), 3)}
    print(json.dumps({"probe_pre": pre, "queries": out, "probe_post": post,
                      "n": n, "sf_dir": SF_DIR}))


if __name__ == "__main__":
    main()
