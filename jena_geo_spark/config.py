"""Central tuning knobs (one config surface, VERDICT r4 ask #7).

Each knob has an engine default and an environment override
(``SPARK_GRAFT_<NAME>``), read at CALL time so a long-lived session or a
test can retune without re-importing.  Knobs are physical-plan choices
(which side to broadcast, when to leave the dimension-table path) — not
data semantics: changing one never changes query results, only the plan.
"""

from __future__ import annotations

import os

DEFAULTS: dict[str, int] = {
    # operators/knn.py endgame pivot: a pending set at or under this row
    # count is broadcast against a streamed right side; above it, the
    # pending set only survives to the endgame when the right side has
    # fewer than k rows, so the (provably tiny) right side is broadcast
    # instead and the pending rows stream.
    "KNN_ENDGAME_BROADCAST_ROWS": 200_000,
    # sparql spatial-FILTER rewrite: polygon sides at or under this row
    # count take the collect/broadcast cover path (dimension-table shape:
    # zones, admin boundaries); larger sides route to the frame-scale
    # mapInPandas cover join with NO driver-side collect.
    "SPATIAL_DIM_MAX": 10_000,
    # operators/knn.knn_join_frames tail pivot (r6): when the unfinished
    # rows after a round would generate at most this many candidate pairs
    # against the FULL right side (|pending| × n_hint), the exact endgame
    # cross join finishes them in one bounded job instead of more
    # fixed-latency grid rounds.  Output is provably identical (same
    # top-k, same tie-break); this only trades job count vs pair count.
    # 1e9 pairs ≈ a few cheap-codegen task-seconds across one wave of
    # executors (measured: the 428-row sf1 tail pivots and saves a full
    # ~4 s grid round); at petabyte right-side sizes the product keeps
    # the pivot off until the tail is truly tiny.
    "KNN_TAIL_CROSS_ROWS": 1_000_000_000,
    # partitioning.widen_if_narrow (r6): 1 = round-robin repartition scans
    # that arrive with fewer partitions than the cluster parallelism (the
    # unsplittable-single-file guard, guide §2.5); 0 = leave scan layout
    # untouched.  Plan-only — results are unchanged either way.
    "WIDEN_NARROW_SCANS": 1,
}


def knob(name: str) -> int:
    """Resolve a tuning knob: ``SPARK_GRAFT_<name>`` env override if set,
    else the engine default.  Unknown names raise KeyError, set or not."""
    default = DEFAULTS[name]
    v = os.environ.get("SPARK_GRAFT_" + name)
    if v is None:
        return default
    try:
        return int(v)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_{name}={v!r} is not a valid integer knob value"
        ) from None
