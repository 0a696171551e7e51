"""The benchmark's definition: workloads, metric names, units and bounds.

``python3 perfbench/metrics.py > BENCHMARK.json`` writes the manifest the
runner is checked against; ``run.py`` prints exactly these names.
"""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
RUN_SECONDS = 5

WORKLOADS = [
    ("ingest_drain",
     "closed-loop catch-up drain of a seeded JSON-lines backlog through run_pipeline(streaming=True):"
     " sources, translators, filterer, sink and the micro-batch engine do the work"),
    ("query_mix",
     "one client in a closed loop: serial noop-written registry queries in two classes (plan/scheduling"
     " overhead vs executor work), then the next micro-batch through the 15 streaming/ maintainers"),
]

# End-to-end slots; what each means on each workload is in NOTES.md.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("op_ms", "ms", "lower", 0.25),
    ("overhead_ms", "ms", "lower", 0.25),
    ("work_ms", "ms", "lower", 0.25),
    ("batch_ms", "ms", "lower", 0.25),
    ("first_batch_ms", "ms", "lower", 0.25),
]

# query_mix ids in two classes, each class on its own table scale
# (w_query_mix.SCALES).  "overhead": plan build plus job scheduling
# dominate; "work": executor task time dominates.  Assigned from the
# executor share each id measured at its scale (NOTES.md).  Every queries_*
# module the mix covers keeps an id.
QUERY_CLASSES = {
    "overhead": ["scan_project", "agg_pivot", "corpus_pack_sequences", "text_gopher_quality",
                 "stats_welch_ttest", "emb_pq_encode", "agg_gini", "tpch_order_priority",
                 "graph_degree_stats"],
    "work": ["cmf_translate_geotab", "route_tenant"],
}

MAINTAINERS = ["ann_index", "ivf_index", "dedup_cascade", "sketch_hll", "sketch_cms", "sketch_mg",
               "skyline", "quantile_logbins", "weighted_sample", "seasonal_grid", "trend_monitor",
               "mixture_plan", "profile", "dim_enrich", "drift_monitor"]


def per_layer() -> list[tuple[str, str]]:
    m = [
        ("session.start_s", "s"), ("session.first_action_s", "s"), ("session.peak_rss_mb", "MB"),
        ("trace.overhead_s", "s"),
        ("ingest.source_s", "s"), ("ingest.stage_translate_s", "s"),
        ("ingest.stage_serialize_s", "s"), ("ingest.stage_route_s", "s"), ("ingest.stage_sink_s", "s"),
        ("ingest.offsets_ms", "ms"), ("ingest.planning_ms", "ms"), ("ingest.add_batch_ms", "ms"),
        ("ingest.commit_ms", "ms"), ("ingest.dead_batch_ms", "ms"),
        ("ingest.jobs_per_batch", "count"), ("ingest.tasks_per_batch", "count"),
        ("ingest.rows_in", "count"), ("ingest.rows_dead", "count"),
        ("ingest.rows_unroutable", "count"), ("ingest.rows_routed", "count"),
        ("ingest.useful_ratio", "ratio"), ("ingest.bytes_written_per_byte_in", "ratio"),
        ("ingest.local1_rows_per_s", "1/s"),
    ]
    for ids in QUERY_CLASSES.values():
        for q in ids:
            m += [(f"q.{q}.build_s", "s"), (f"q.{q}.exec_s", "s")]
    for cls in QUERY_CLASSES:
        m += [(f"query.{cls}.build_s", "s"), (f"query.{cls}.exec_s", "s"),
              (f"query.{cls}.jobs", "count"), (f"query.{cls}.tasks", "count"),
              (f"query.{cls}.executor_run_s", "s"), (f"query.{cls}.gc_s", "s"),
              (f"query.{cls}.shuffle_bytes", "bytes")]
    for name in MAINTAINERS:
        m += [(f"maint.{name}.batch0_s", "s"), (f"maint.{name}.steady_s", "s")]
    return m + [("maint.jobs_per_batch", "count"), ("maint.state_bytes", "bytes")]


PER_LAYER_BETTER = {name: "higher" for name in (
    "ingest.rows_in", "ingest.rows_routed", "ingest.useful_ratio", "ingest.local1_rows_per_s")}


def manifest() -> dict:
    return {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": PER_LAYER_BETTER.get(n, "lower")}
                      for n, u in per_layer()],
    }


if __name__ == "__main__":
    print(json.dumps(manifest(), indent=2))
