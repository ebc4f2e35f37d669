"""The two query workloads: one pass runs every query of a list once, in a
seed-permuted order, building each with ``fn(spark, lake)`` and collecting
it. Each answer is checked against its DuckDB oracle after its clock stops.
"""

from __future__ import annotations

import importlib
import random
import time
from dataclasses import dataclass, field

from perfbench.oracle import mismatch, rows_to_pandas

OLAP = (
    "q_exact_quantiles q_sketch_stats q_robust_outliers_mad "
    "q_spearman_qty_price q_order_price_ranks q_price_deciles q_gini_revenue "
    "q_winsorized_prices q_kendall_qty_disc q_rfm_segments q_mannwhitney_u "
    "q_ks_test q_brand_pagerank q_triangle_count q1_pricing_summary "
    "q3_shipping_priority q9_product_profit q18_large_volume_orders "
    "q21_waiting_suppliers q_point_lookup q_top_orders_per_customer "
    "q_user_state_history q_events_sessionize q_attribution_window "
    "q_event_pairs_10min q_rolling_7day_revenue"
).split()

# q_pq_topk is left out: on some seeded lakes its 4-decimal rounding of a
# float sum lands on a tie, and Spark and DuckDB round it apart
# (0.7659 vs 0.766), so its answer cannot be checked exactly.
CURATION = (
    "q_semantic_dedup q_semantic_dedup_smallk q_semantic_dedup_quality "
    "q_semantic_dedup_2level q_incremental_semdedup q_doc_dedup_decisions "
    "q_setsim_prefix_join q_simhash_neardup q_minhash_jaccard_est "
    "q_incremental_dedup q_kmeans_clusters q_ivf_recall "
    "q_doc_perplexity q_contamination_bloom q_bpe_encode q_pii_redaction "
    "q_gopher_rules q_pack_sequences"
).split()

QUERY_LISTS = {"olap": OLAP, "curation": CURATION}

FAMILIES = {
    "ranks_quantiles": OLAP[:12],
    "graph_loops": ["q_brand_pagerank", "q_triangle_count"],
    "semdedup": CURATION[:5],
    "minhash": CURATION[5:10],
    "kmeans_ann": CURATION[10:12],
}

PLAN_MODULES = ("tpch", "events", "text", "similarity", "packing")


def family_of(name: str) -> str | None:
    return next((f for f, names in FAMILIES.items() if name in names), None)


def module_of(name: str) -> str:
    """The plans module whose registry holds ``name``."""
    for mod in PLAN_MODULES:
        if name in importlib.import_module(f"ubparquet_spark.plans.{mod}").QUERIES:
            return mod
    raise KeyError(name)


@dataclass
class PassResult:
    op_s: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    @property
    def pass_s(self) -> float:
        return sum(self.op_s)


def run_pass(spark, tracer, fns, names, lake, oracle_sql, order_seed) -> PassResult:
    """One pass over ``names``; ``oracle_sql`` maps query name to its oracle
    SQL, or is None for the unchecked warm pass."""
    order = list(names)
    random.Random(order_seed).shuffle(order)
    res = PassResult()
    for name in order:
        fn = fns[name]
        res.attempted += 1
        collect = None
        tags = {"query": name, "module": module_of(name), "family": family_of(name)}
        t0 = time.perf_counter()
        try:
            with tracer.span("query", **tags):
                with tracer.span("construct"):
                    df = fn(spark, lake)
                with tracer.span("collect") as collect:
                    rows = df.collect()
        except Exception as e:  # a failed query still costs its time
            res.op_s.append(time.perf_counter() - t0)
            res.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        res.op_s.append(time.perf_counter() - t0)
        tracer.note_collect(collect, df, len(rows))
        if oracle_sql is not None:
            why = mismatch(rows_to_pandas(rows, df.schema), oracle_sql[name], lake)
            if why:
                res.failures.append(f"{name}: wrong answer: {why}")
    return res
