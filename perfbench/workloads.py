"""The benchmark's workloads: which registry keys each one runs.

Why each workload exists is written in ``BENCHMARK.json`` and ``README.md``.

Each workload is one closed-loop client: it runs one query at a time and
waits for its result before the next, because every caller of the library
waits for each result. The seed sets only the order of the keys in each
pass; the library only ever receives ``(spark, sf_dir)``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    # Whether the workload's keys read the staged stream-source copies that
    # ``streaming.streams.stage_fixture_sources`` declares as set-up.
    stages: bool = False


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="olap_star",
            keys=(
                "flagship_q1",
                "scan_filtered",
                "join_multiway",
                "agg_hash",
                "agg_grouping_sets",
                "win_topk_group",
                "set_except_all",
                "query_q3",
                "ts_sessionize",
                "agg_gini",
                "agg_approx_percentile",
            ),
        ),
        Workload(
            name="llm_text",
            keys=(
                "llm_dedup_exact",
                "llm_langid",
                "llm_simhash_eval",
                "mm_resize",
            ),
        ),
        Workload(
            name="stream_drain",
            keys=(
                "stream_tumbling",
                "stream_chunk_dedup",
            ),
            stages=True,
        ),
    )
}


def pass_order(keys: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The order of ``keys`` in pass ``pass_no`` of a run with ``seed``."""
    order = list(keys)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order
