"""The benchmark's workloads: which ops a round calls, on what inputs, and
with how many calls in flight.

A round is one pass over a workload's op list; every run attempts whole
rounds of the same calls. The op lists are fixed (see README.md for how the
catalog sample was drawn); the seed decides the data.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    sf: float  # scale factor of the generated base tree
    replicas: int  # key-shifted copies of the base tree (10 = the 10x tree)
    in_flight: int  # op calls in flight (closed loop)
    round_s: float  # nominal length of one warm round on a 4-core host

    def rounds(self, seconds: float) -> int:
        """Rounds a run of ``seconds`` attempts. Fixed by the run length, not
        by how fast the rounds go, so every run calls the same ops."""
        return max(1, int(seconds // self.round_s))


# The changefeed bridge and its sinks, one flush per call.
BRIDGE_OPS = (
    "pipeline_bridge_e2e",
    "stream_http_ingest",
    "sink_pubsub_emulated",
    "sink_exactly_once_manifest",
    "stream_cdc_upsert",
    "cdc_route_path",
    "cdc_resolved_frontier",
)

# One op per category, for every category with at least ten eligible ops:
# the oracled, benched ops that match their oracle on generated trees
# (README.md, "catalog_small").
CATALOG_SMALL_OPS = (
    "agg_rollup",
    "cdc_replication_lag",
    "corpus_resample_to_mix",
    "events_alert_debounce",
    "fn_hash_encode",
    "graph_pagerank",
    "join_interval_overlap",
    "ml_linreg_normal_eq",
    "profile_mutual_information",
    "scan_xml_messages",
    "text_dispersion_dp",
    "win_lag_lead",
)

# Heavy ops whose time grows fastest with data (README.md, "catalog_large"):
# one wave of four calls in flight.
CATALOG_LARGE_OPS = (
    "dedup_incremental",
    "orders_assoc_rules",
    "ml_winsorized_trimmed_mean",
    "text_keyword_rake",
)

WORKLOADS = {
    "bridge": Workload(BRIDGE_OPS, sf=0.02, replicas=1, in_flight=1, round_s=16.0),
    "catalog_small": Workload(CATALOG_SMALL_OPS, sf=0.01, replicas=1, in_flight=1, round_s=8.0),
    "catalog_large": Workload(CATALOG_LARGE_OPS, sf=0.01, replicas=10, in_flight=4, round_s=12.0),
}

# Bridge flushes are made for this many rounds; longer runs reuse them.
BRIDGE_ROUNDS = 12
# Events per bridge flush: log-normal median, lower and upper clip.
BRIDGE_SLICE = (400, 50, 4000)


def warm_key(workload: str) -> str:
    """The input directory of the untimed warm-up round: a 50-event flush,
    or the catalog tree itself (an op's first call costs much the same on
    any tree, and the JIT warms faster on real sizes)."""
    return "warm" if workload == "bridge" else "tree"


def input_key(workload: str, round_no: int, pos: int) -> str:
    """The input directory (under the seed directory) of one call."""
    if workload == "bridge":
        n = len(BRIDGE_OPS)
        return f"slice-{(round_no % BRIDGE_ROUNDS) * n + pos:03d}"
    return "tree"


def call_inputs(workload: str) -> list[tuple[str, str]]:
    """Every distinct (op, input key) pair a run of ``workload`` may call."""
    ops = WORKLOADS[workload].ops
    rounds = BRIDGE_ROUNDS if workload == "bridge" else 1
    return [(op, input_key(workload, r, i)) for r in range(rounds) for i, op in enumerate(ops)]
