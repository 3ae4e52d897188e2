"""Names, units and directions of every metric the benchmark prints.

``BENCHMARK.json`` lists the same metrics; ``tests/test_perfbench.py``
keeps the two in step. A per-layer metric of a layer the workload does
not exercise reads 0 (for example ``pipeline.*`` on ``extract_small``).
"""

from __future__ import annotations

from workloads import CORPUS_QUERIES

# (name, unit, better)
END_TO_END = (
    ("pages_per_s", "1/s", "higher"),
    ("html_mb_per_s", "MB/s", "higher"),
    ("wall_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("worker_rss_peak_mb", "MB", "lower"),
    ("ok_ratio", "ratio", "higher"),
)

PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("setup.synth_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("functions.decode_us", "us", "lower"),
    ("functions.tokenize_us", "us", "lower"),
    ("functions.score_us", "us", "lower"),
    ("functions.merge_us", "us", "lower"),
    ("functions.extract_page_us", "us", "lower"),
    ("functions.fastscan_accept_ratio", "ratio", "higher"),
    ("functions.scan_events_per_page", "count", "lower"),
    ("functions.blocks_per_page", "count", "lower"),
    ("functions.blocks_kept_per_page", "count", "lower"),
    ("functions.pool_pages_per_s", "1/s", "higher"),
    ("extract.python_total_ms", "ms", "lower"),
    ("extract.boot_ms", "ms", "lower"),
    ("extract.init_ms", "ms", "lower"),
    ("extract.bytes_sent", "bytes", "lower"),
    ("extract.bytes_received", "bytes", "lower"),
    ("extract.overhead_ratio", "ratio", "lower"),
    ("engine_over_ceiling", "ratio", "higher"),
    ("scan.time_ms", "ms", "lower"),
    ("scan.bytes", "bytes", "lower"),
    ("stage.tasks", "count", "lower"),
    ("stage.task_ms_p50", "ms", "lower"),
    ("stage.task_ms_max", "ms", "lower"),
    ("stage.skew", "ratio", "lower"),
    ("stage.core_busy_ratio", "ratio", "higher"),
    ("stage.gc_ms", "ms", "lower"),
    ("stage.spill_bytes", "bytes", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("pipeline.waves", "count", "lower"),
    ("pipeline.wave_s_p50", "s", "lower"),
    ("pipeline.output_bytes", "bytes", "lower"),
    ("pipeline.output_files", "count", "lower"),
    ("pipeline.resume_noop_s", "s", "lower"),
    *((f"query.{q}_s", "s", "lower") for q in CORPUS_QUERIES),
    ("trace.overhead_ratio", "ratio", "lower"),
)


def render(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every metric of the run's kind;
    a metric the run did not produce reads 0."""
    spec = PER_LAYER if trace else END_TO_END
    unknown = set(values) - {name for name, _, _ in spec}
    if unknown:
        raise ValueError(f"metrics missing from the spec: {sorted(unknown)}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit, _ in spec}
