#!/usr/bin/env python
"""Time individual catalog/bench entries with the bench.py methodology
(noop sink, warmers, min-of-N) without paying for the full 109-entry
sweep — the round-16 targeted before/after instrument (full bench runs
cost ~40 min on this host; a touched-entry subset runs in minutes).

Usage:
    python tools/time_entries.py [-n N] [--sf DIR] name [name ...]

Prints one JSON line {"sf":..., "n":..., "queries": {name: min_sec}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openmsistream_spark.catalog import load_all  # noqa: E402
from openmsistream_spark.session import get_spark  # noqa: E402

QUERIES = load_all()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=4)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import bench

    spark = get_spark(app_name="time_entries")
    bench.warm_session(spark, args.sf)

    out = {}
    for name in args.names:
        fn = QUERIES[name].fn if name in QUERIES else bench.EXTRA[name]
        runs = []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = min(runs)
        print(f"# {name}: runs={runs}", file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps({"sf": args.sf, "n": args.n, "queries": out}))


if __name__ == "__main__":
    main()
