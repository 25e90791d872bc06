"""Make one workload's inputs and oracle answers for one seed.

    python3 perfbench/inputs.py --workload NAME --seed N

writes ``.perfbench_work/NAME/seed-N/``: the parquet trees the engine will
read, ``manifest.json`` (the call plan and what the generator wrote), and
``oracle/*.json``, the canonical rows of every call's DuckDB oracle. The
benchmark runs this command itself, in a child process, when the directory
is missing or incomplete; the same command makes the same bytes again.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def seed_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, ".perfbench_work", workload, f"seed-{seed}")


def fingerprint(workload: str) -> str:
    """Everything the inputs of ``workload`` depend on besides the seed."""
    return repr((workloads.WORKLOADS[workload], workloads.BRIDGE_ROUNDS,
                 workloads.BRIDGE_SLICE, gen.VERSION))


def make(root: str, workload: str, seed: int) -> dict:
    wl = workloads.WORKLOADS[workload]
    out = seed_dir(root, workload, seed)
    # Keep one seed per workload on disk: the 10x tree is tens of MB.
    parent = os.path.dirname(out)
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            if d.startswith("seed-") and d != os.path.basename(out):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    gen.fresh_dir(out)
    t0 = time.perf_counter()

    inputs: dict[str, dict] = {}  # input key -> what the generator wrote
    if workload == "bridge":
        base = gen.base_tree(seed, wl.sf)
        sizes = gen.slice_sizes(seed, len(wl.ops) * workloads.BRIDGE_ROUNDS, *workloads.BRIDGE_SLICE)
        gen.write_tree(gen.bridge_slices(base, [50])[0], os.path.join(out, "warm"))
        for i, tables in enumerate(gen.bridge_slices(base, sizes)):
            key = f"slice-{i:03d}"
            gen.write_tree(tables, os.path.join(out, key))
            inputs[key] = check.bridge_counts(tables["events"].to_pandas(), tables["orders"].to_pandas())
    else:
        tree = gen.base_tree(seed, wl.sf)
        if wl.replicas > 1:
            tree = gen.replicate(tree, wl.replicas)
        gen.write_tree(tree, os.path.join(out, "tree"))
        inputs["tree"] = {name: tab.num_rows for name, tab in tree.items()}
    gen_s = time.perf_counter() - t0

    # Oracle answers: every (op, input) pair the run may call.
    import cdc_pubsub_spark.all_queries  # noqa: F401  (populates REGISTRY)
    from cdc_pubsub_spark.registry import REGISTRY

    t1 = time.perf_counter()
    os.makedirs(os.path.join(out, "oracle"))
    for op, key in workloads.call_inputs(workload):
        want = check.oracle_frame(os.path.join(out, key), REGISTRY[op].oracle)
        cols, rows = check.canonical_rows(want)
        with open(os.path.join(out, "oracle", f"{op}@{key}.json"), "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
    oracle_s = time.perf_counter() - t1

    manifest = {
        "workload": workload,
        "seed": seed,
        "fingerprint": fingerprint(workload),
        "inputs": inputs,
        "gen_s": gen_s,
        "oracle_s": oracle_s,
        "command": f"python3 perfbench/inputs.py --workload {workload} --seed {seed}",
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(0, root)
    make(root, args.workload, args.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
