#!/usr/bin/env python
"""Per-op profiling helper for optimization rounds (guide §1).

Usage:
    python scripts/profile_op.py OP [OP...] [--sf DIR] [--passes N]
        [--explain OUTDIR] [--noop]

For each named op: builds the DataFrame, optionally dumps
``explain('formatted')`` to OUTDIR/<op>.txt, then times N serial passes
(clearCache between passes, min reported) through bench.py's timing
kernel. Timing action is ``.collect()`` by default (bench.py's serial
tier); ``--noop`` uses the noop sink instead (guide §1.4) — use it when
driver-transfer cost could mask the computation.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from cdc_pubsub_spark.registry import REGISTRY
from cdc_pubsub_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="", help="filename suffix, e.g. _before")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument(
        "--lazy",
        action="store_true",
        help="dump explain with tables.LAZY_PLAN_MODE so finalize_cached"
        " ops show their true operator tree instead of Scan ExistingRDD",
    )
    ap.add_argument(
        "--no-warm",
        action="store_true",
        help="skip the sf0.001 warm passes (bench.py warms identically)",
    )
    args = ap.parse_args()

    spark = get_spark("profile-op")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.no_warm:
        # Match bench.py's protocol: untimed warm passes on the identical
        # plans at sf0.001 so JIT + whole-stage-codegen compilation happen
        # outside the timed window.
        for _ in range(2):
            for name in args.ops:
                if name in REGISTRY:
                    try:
                        REGISTRY[name].fn(spark, "/root/testdata/sf0.001").collect()
                    except Exception:
                        pass

    for name in args.ops:
        if name not in REGISTRY:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        fn = REGISTRY[name].fn
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            if args.lazy:
                from cdc_pubsub_spark import tables

                tables.LAZY_PLAN_MODE = True
                try:
                    df = fn(spark, args.sf)
                finally:
                    tables.LAZY_PLAN_MODE = False
            else:
                df = fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.explain, f"{name}{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"{name}: explain -> {path}", flush=True)
        if args.passes <= 0:
            if not args.explain:
                # Without this note the op would print nothing, which
                # reads like a hang or a missing-op bug in logs.
                print(f"{name}: explain/timing skipped (passes=0)", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if args.noop:
            def noop_write() -> None:
                fn(spark, args.sf).write.format("noop").mode("overwrite").save()

            walls, _ = bench.time_calls(noop_write, args.passes, spark)
            rows = None
        else:
            walls, rows = bench.measure(spark, name, args.sf, args.passes)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(walls):.3f}s walls="
            f"{[round(w, 3) for w in walls]} rows={rows}",
            flush=True,
        )


if __name__ == "__main__":
    main()
