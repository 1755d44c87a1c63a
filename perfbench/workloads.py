"""The benchmark's workloads: which contract queries run, in which order,
over which generated inputs, and why each set was chosen.

Every workload is closed-loop with one client: the harness runs the
queries one at a time in the listed order, and a pass is one run of the
whole list. Inputs are generated by ``tools/gen_sf.gen`` at ``sf`` with
the run's seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # Data plane: scans, hash/sort shuffles, joins and windows over the
    # ten-table star schema. Eager build jobs, streaming and Python
    # workers are absent, so a change to those layers predicts no change
    # here.
    "tpch_sf0.02": Workload(
        sf=0.02,
        queries=(
            "wordcount", "group_agg", "hash_join", "multi_join_agg",
            "tpch_q3", "tpch_q21", "window_rank", "skewed_agg",
        ),
    ),
    # Control plane: driver-paced eager builds (order_stat's two selection
    # chains run from a thread pool), pandas decoders in Python workers,
    # and streaming drains that commit offsets and state on every
    # trigger. The data is small, so fixed per-job and per-trigger cost
    # dominates. ann_recall_report is left out: with its index memo
    # evicted it takes about 8 s warm and 23 s cold at this scale, more
    # than a run can afford.
    "control_sf0.01": Workload(
        sf=0.01,
        queries=(
            "order_stat", "audio_features", "stream_dedup",
        ),
    ),
}
