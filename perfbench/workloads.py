"""The benchmark's workloads: which registry queries, at which scale.

Each workload is a fixed list of ``REGISTRY`` names run one at a time
(closed loop) over the engine's sf0.01 testdata, of which ``data/sf0.01``
is a byte-for-byte copy.  ``--seed`` only fixes the order in which a run
visits them; README.md explains why each list was chosen.
"""

from __future__ import annotations

import os
import random

# 60k lineitems, 10k events, 500 documents
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# A warm pass over either workload takes about this long on a 4-core
# host.  A run times a fixed number of passes, ceil(--seconds / PASS_S):
# the engine keeps getting faster over its first passes (JIT), so a
# pass count that depended on the clock would make runs incomparable.
PASS_S = 8.0

WORKLOADS: dict[str, dict] = {
    "olap_sf001": {
        "why": "TPC-H and star joins plus an Arrow Python-UDF scan: execution-dominated, no driver loops or streams",
        "queries": [
            "q_tpch_q1",
            "q_tpch_q5",
            "q_tpch_q18",
            "q_tpch_q21",
            "q_flagship_star_rollup",
            "q_top_k_per_group",
            "q_multimodal_decode",
        ],
    },
    "stream_sf001": {
        "why": "Structured Streaming drains: micro-batches, state store and checkpoint/WAL writes",
        "queries": [
            "q_stream_hourly_counts",
            "q_stream_cdc_apply",
        ],
    },
}


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the seeded order a run visits them."""
    names = list(WORKLOADS[workload]["queries"])
    random.Random(seed).shuffle(names)
    return names
