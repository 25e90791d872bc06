#!/usr/bin/env python
"""Oracle-parity check for named ops, or for every op ``__spark_entry__``
exposes, at one or more scale factors, on the test suite's comparator
(tests/parity.py::assert_parity: schema, dtype kinds, row count,
canonical sorted rows).

Usage: python scripts/check_op.py [OP...] [--sf sf0.001,sf0.01]
With no OP, checks every op in ``__spark_entry__.queries()`` after
running ``entry()`` as a smoke test.
Exits 1 if any op mismatches its oracle or fails to run.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__
from cdc_pubsub_spark.registry import REGISTRY
from cdc_pubsub_spark.session import get_spark
from tests.parity import assert_parity


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="*")
    ap.add_argument("--sf", default="sf0.001,sf0.01")
    args = ap.parse_args()

    spark = get_spark("check-op")
    spark.sparkContext.setLogLevel("ERROR")
    ops = args.ops
    if not ops:
        print(f"SMOKE entry(): {len(__spark_entry__.entry(spark).collect())} rows")
        ops = list(__spark_entry__.queries())
    bad = 0
    for sf in args.sf.split(","):
        sf_dir = f"/root/testdata/{sf}"
        for name in ops:
            try:
                if REGISTRY[name].oracle is None:
                    n = len(REGISTRY[name].fn(spark, sf_dir).collect())
                    print(f"{sf} {name}: rows-only, {n} rows", flush=True)
                    continue
                assert_parity(spark, name, sf_dir)
                print(f"{sf} {name}: MATCH", flush=True)
            except AssertionError as exc:
                bad += 1
                print(f"{sf} {name}: MISMATCH {exc}", flush=True)
            except Exception:  # one failing op must not stop the sweep
                bad += 1
                print(f"{sf} {name}: ERROR {traceback.format_exc()}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
