#!/usr/bin/env python
"""Synthesize the sf1 scale-probe tree: 10x the sf0.1 bench data.

The bench's scale-probe tier (SPARK_GRAFT_BENCH_FULL=1) re-times the
heaviest serial ops at 10x the data to validate the scaling-curve claims
operator docstrings make — a single-partition bottleneck that hides at
sf0.1 shows up as a >>10x time ratio here, empirically, instead of by
code reading (round-8 VERDICT item 7).

Construction: 10 key-shifted replicas of every FACT table (customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
copy of the fixed dims (region, nation). Every key column shifts by
replica * 2^40 — far above any sf0.1 key, so replicas never collide
and cross-table joins stay consistent (l_orderkey meets its shifted
o_orderkey, etc.). NOTE: 2^40 is divisible only by POWER-OF-TWO
moduli, so `key % 16` / `% 64` distributions are preserved per
replica while non-power-of-two moduli the registry also uses
(% 250, % 97, % 11, % 7, ...) are rotated for replicas > 0 —
planted modular structure is NOT preserved across replicas. That is
fine for this tree's only use, TIMING (both engines read identical
data), but do NOT reuse it for correctness fixtures that rely on
planted `% m` structure. Document text gets a
per-replica suffix so corpus-dedup group structure is preserved
(replicas do NOT collapse into 10x duplicate groups, which would grow
pair output quadratically and measure the wrong thing); n_chars is
recomputed to stay consistent with the text.

Output: $SPARK_GRAFT_SCALE_DIR (default <repo>/.scale_probe/sf1), one
parquet DIRECTORY per table (spark.read.parquet handles both layouts).
Idempotent: skips generation if the tree exists unless --force.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import DataFrame, functions as F

from cdc_pubsub_spark.session import get_spark

# Replica count is env-tunable from r15: REPLICAS=10 builds the standard
# 10x tree (.scale_probe/sf1); REPLICAS=100 with SPARK_GRAFT_SCALE_DIR
# pointed at .scale_probe/sf10 builds the 100x-direction tree for the
# heavy-tier probe (r14 VERDICT item 6 — the 10x tree is too small to
# expose super-linear terms in the graph horizon joins / collect_set
# baskets). Key shifts stay replica * 2^40: at 100 replicas the max key
# is ~1.1e14, far inside int64 for every reduced-key hash site.
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
OFF = 1 << 40  # > any sf0.1 key; preserves power-of-two `% m` only (see above)

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]


def replicate(df: DataFrame, table: str) -> DataFrame:
    # ONE scan with an exploded replica index (r15; the old per-replica
    # unionByName built an N-branch plan that re-read the source N times
    # — fine at N=10, pathological at N=100).
    rep = df.withColumn(
        "_r", F.explode(F.expr(f"sequence(0, {REPLICAS - 1})"))
    )
    for k in KEY_COLS[table]:
        rep = rep.withColumn(k, F.col(k) + F.col("_r") * F.lit(OFF))
    if table == "documents":
        # Per-replica text suffix (replica 0 byte-identical to the
        # source) so corpus-dedup group structure is preserved — see
        # module docstring.
        rep = rep.withColumn(
            "text",
            F.when(
                F.col("_r") > 0,
                F.concat(
                    F.col("text"),
                    F.lit(" r"),
                    F.col("_r").cast("string"),
                ),
            ).otherwise(F.col("text")),
        ).withColumn(
            "n_chars",
            F.when(F.col("_r") > 0, F.length("text").cast("bigint")).otherwise(
                F.col("n_chars")
            ),
        )
    return rep.drop("_r")


def main() -> None:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scale_probe",
            "sf1",
        ),
    )
    force = "--force" in sys.argv
    if os.path.isdir(dst) and not force:
        if all(
            os.path.exists(os.path.join(dst, f"{t}.parquet"))
            for t in list(KEY_COLS) + DIMS
        ):
            print(f"scale probe tree already complete at {dst}")
            return
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst, exist_ok=True)
    spark = get_spark("gen-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for t in DIMS:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        df.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    for t in KEY_COLS:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        rep = replicate(df, t)
        # 10x sf0.1 in ~8-16 files per table (32 for the 100x tree):
        # big enough for parallel scans, small enough that listing
        # stays trivial.
        rep.repartition(8 if REPLICAS <= 10 else 32).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
        n = spark.read.parquet(f"{dst}/{t}.parquet").count()
        print(f"{t}: {n} rows")
    print(f"scale probe tree written to {dst}")


if __name__ == "__main__":
    main()
