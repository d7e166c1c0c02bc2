"""The benchmark's calls and metric names, units and directions.

``BENCHMARK.json`` lists the same metrics; ``test_perfbench.py`` keeps the
two in step.
"""

from __future__ import annotations

HEADLINE = [  # bench.py's HEADLINE map, in its order
    "agg_groupby", "q3_top_orders", "join_multiway", "win_rank", "topk",
    "distinct_users", "text_tokenize_wordcount", "stream_tumbling", "dedup_exact",
]
TAIL = [  # registry-tail op that runs inside the `headline` workload, on small tables
    "agg_percentile",  # eager ranks.ranked_by_range localCheckpoint at construction
]
RANKS_OPS = {"agg_percentile", "agg_trimmed_mean", "sample_systematic_every_nth"}
MODULE = {  # op -> its carpet_spark.ops module
    "agg_groupby": "aggs", "q3_top_orders": "headline", "join_multiway": "joins",
    "win_rank": "windows", "topk": "sorts", "distinct_users": "headline",
    "text_tokenize_wordcount": "llm", "stream_tumbling": "streaming",
    "dedup_exact": "llm", "agg_percentile": "aggs_advanced",
}

END_TO_END = [  # (name, unit, better)
    ("setup_s", "s", "lower"),
    ("pass_cpu_s", "s", "lower"),
]


def _per_layer() -> list[tuple[str, str, str]]:
    rows = [
        ("session.import_s", "s", "lower"),
        ("session.get_spark_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("cli.jobs_per_file", "count", "lower"),
        ("cli.nonjob_s", "s", "lower"),
        ("cli.write_task_s", "s", "lower"),
        ("cli.bytes_out_per_in", "ratio", "lower"),
        ("cli.mb_s", "MB/s", "higher"),
        ("cli.casing_leak", "count", "lower"),
        ("ops.construct_s", "s", "lower"),
        ("ops.construct_jobs", "count", "lower"),
        ("ops.execute_s", "s", "lower"),
    ]
    for op in HEADLINE + TAIL:
        key = f"ops.{MODULE[op]}.{op}"
        rows += [(f"{key}.construct_s", "s", "lower"), (f"{key}.construct_jobs", "count", "lower"),
                 (f"{key}.execute_s", "s", "lower")]
    rows += [
        ("ranks.construct_s", "s", "lower"),
        ("plan.analysis_s", "s", "lower"),
        ("plan.optimization_s", "s", "lower"),
        ("plan.planning_s", "s", "lower"),
        ("exec.jobs", "count", "lower"),
        ("exec.stages", "count", "lower"),
        ("exec.tasks", "count", "lower"),
        ("exec.task_s", "s", "lower"),
        ("exec.cpu_s", "s", "lower"),
        ("exec.gc_s", "s", "lower"),
        ("exec.slot_util", "ratio", "higher"),
        ("exec.straggler_ratio", "ratio", "lower"),
        ("exec.input_mb", "MB", "lower"),
        ("exec.output_mb", "MB", "lower"),
        ("exec.shuffle_read_mb", "MB", "lower"),
        ("exec.shuffle_write_mb", "MB", "lower"),
        ("exec.spill_mb", "MB", "lower"),
        ("exec.failed_tasks", "count", "lower"),
        ("arrow.transfer_s", "s", "lower"),
        ("arrow.result_rows", "count", "lower"),
        ("arrow.result_mb", "MB", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"),
        ("fail_ratio", "ratio", "lower"),
        ("wall.pass_s", "s", "lower"),
        ("wall.call_p50_s", "s", "lower"),
        ("wall.call_p90_s", "s", "lower"),
        ("cpu.call_p50_s", "s", "lower"),
        ("cpu.call_p90_s", "s", "lower"),
        ("mem.peak_rss_mb", "MB", "lower"),
    ]
    return rows


PER_LAYER = _per_layer()
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
