"""The benchmark's workloads: which registered queries one pass runs, at
what input scale, and why each workload is in the benchmark.

``scale`` multiplies ``tools/make_fixtures.py``'s sf0.1 row counts
(1.0 = sf0.1). ``reads`` lists, per query, every table it loads through
``sources.load_table``, once per load; it is the numerator of
``rows_per_s`` and the traced run checks it against the loads it sees.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    reads: dict[str, tuple[str, ...]]
    why: str
    exports: tuple[str, ...] = ()  # queries whose op-trace each pass exports

    @property
    def queries(self) -> tuple[str, ...]:
        return tuple(self.reads)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="mapreduce_core",
            scale=0.3,
            reads={
                "wordcount": ("documents",),
                "gemm_coordinate": (),
                "gemm_block": (),
                "q1_pricing_summary": ("lineitem",),
                "q3_shipping_priority": ("customer", "orders", "lineitem"),
                "exact_dedup": ("documents",),
            },
            exports=("wordcount", "gemm_block"),
            # The paper's two pipelines (word count; blocked outer-product
            # GEMM with its op-trace export) plus relational MapReduce.
            # Action-bound: aggregations that shrink their input, few jobs,
            # little builder time; the noop action is about 60% of a
            # pass at this scale. Scan, shuffle and codegen changes move it;
            # builder changes should not.
            why=(
                "paper pipelines + relational MapReduce: action-bound "
                "shrinking aggregations; moves on scan/shuffle/codegen, not "
                "on builder changes; 412,500 input rows per pass"
            ),
        ),
        Workload(
            name="iterative_fixpoint",
            scale=0.1,
            reads={
                "bellman_ford_delta_frontier": ("lineitem",),
            },
            # A driver-side convergence loop: most of a pass is Python
            # builder time launching one eager localCheckpoint job per
            # round before the action. The target of a shared fixpoint
            # primitive and of query-scoped checkpoint release.
            why=(
                "builder-bound convergence loop (eager localCheckpoint job "
                "per round before the action); moves on fixpoint and release "
                "changes; 60,000 input rows per pass"
            ),
        ),
    )
}
