"""The benchmark's workloads: fixed query lists over the registered queries.

Each list is run one query at a time (a closed loop with one client). The
seed only permutes the order within a pass; the lists and the data never
change. Sizes are set so that one run -- set-up, a cold pass and the warm
passes that fit in the measured window -- takes 40-50 s on a 4-vCPU
machine at the vendored sf0.01 tables (see README.md).
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "batch_pipeline",
            "the paper's ads pipeline with its file writes, TPC-H and SQL reports, "
            "and LLM-data curation: plan build, Catalyst, JVM shuffle, Python "
            "workers, writes",
            (
                # the paper's pipeline: flagship report, keep-first dedup,
                # dynamic-partition write
                "q_flagship",
                "q_dedup_keep_first",
                "q_partition_overwrite_dynamic",
                # relational reports: Catalyst and JVM shuffle/join work
                "q_tpch_q1",
                "q_tpch_q3",
                "q_tpch_q5",
                "q_tpch_q18",
                "q_sql_cte_yoy",
                "q_subquery_corr_scalar",
                "q_grouping_sets",
                "q_window_distribution",
                # LLM-data curation: driver-side fits and the Python boundary
                "q_minhash_lsh_pairs",
                "q_dup_span_docs",
                "q_semdedup",
                "q_lang_id_udf",
            ),
        ),
        Workload(
            "stream_state",
            "a windowed stream aggregate and a transformWithState stream: "
            "micro-batches, state-store commits and state-server round trips",
            (
                "q_stream_tumbling",
                "q_stream_transform_with_state",
            ),
        ),
    )
}


def pass_order(queries: tuple[str, ...], rng: random.Random) -> list[str]:
    """One pass's query order: a permutation drawn from the run's seeded RNG."""
    order = list(queries)
    rng.shuffle(order)
    return order
