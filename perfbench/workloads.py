"""The benchmark's workloads: which registry queries each one runs, and
why it was chosen. Every workload is a closed loop: one driver thread
runs one query at a time on ``local[<cores>]``."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # Keep the staged steady-state indexes and tracked caches between
    # queries; otherwise sweep tracked caches and clear the cache after
    # each query.
    keep_state: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_nested",
            "relational and nested analytics: JVM scan, codegen and shuffle "
            "do the work; no Python workers, persisted state or streaming",
            (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier_volume",
                "q6_forecast_revenue",
                "q10_returned_items",
                "nested_filter_define_reduce",
                "compiled_nested_event_loop",
                "sessionize_events",
                "lateral_top3_orders_per_customer",
                "batch_session_window_stats",
            ),
        ),
        Workload(
            "incremental_steady",
            "corpus dedup against staged per-process indexes, plus a "
            "foreachBatch upsert stream: Arrow Python workers, tracked "
            "persists, the components fixpoint; index staging is set-up",
            (
                "dedup_embedding_incremental_steady",
                "dedup_clusters_steady",
                "stream_foreachbatch_upsert_latest",
            ),
            keep_state=True,
        ),
    )
}
