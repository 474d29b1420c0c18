"""Metric names and units, and which end-to-end metric each layer moves.

``E2E`` is printed with ``--trace 0``, ``PER_LAYER`` with ``--trace 1``;
both lists are the same for every workload, so a layer a workload does
not use reports 0 there. README.md records which end-to-end metric each
layer metric should move, and on which workload.
"""

from __future__ import annotations

E2E = {
    "setup_s": "s",      # process start -> session ready + one cold tiny pipeline
    "wall_s": "s",       # one pass of the workload's ops (median of passes)
    "op_p50_s": "s",
    "op_tail_s": "s",    # highest percentile with >= 10 ops beyond it, else max
    "rows_per_s": "1/s",  # input rows per second of a pass
    "peak_rss_mb": "MB",  # peak of driver + JVM + Python workers (PSS)
}

_FMT = ("commits", "count"), ("commit_s", "s"), ("files_written", "count"), \
    ("bytes_written", "B"), ("meta_files", "count"), ("snapshot_s", "s"), \
    ("scan_s", "s"), ("live_files", "count"), ("scan_files_per_live", "ratio"), \
    ("maint_s", "s"), ("bytes_reclaimed", "B")

PER_LAYER = {
    "session.import_s": "s", "session.start_s": "s", "session.first_op_s": "s",
    "registry.resolve_s": "s", "registry.uris": "count",
    "pipeline.source_s": "s", "pipeline.transform_s": "s",
    "pipeline.sink_s": "s",
    "plans.build_s": "s", "plans.exec_s": "s",
    "operators.build_jobs": "count", "operators.build_job_s": "s",
    "python.eval_s": "s", "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B",
    "spark.executions": "count", "spark.jobs": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.scan_files": "count",
    "spark.scan_bytes": "B", "spark.failed_tasks": "count",
    "spark.slot_busy_frac": "ratio",
    **{f"{fmt}_lite.{m}": u for fmt in ("delta", "iceberg", "hudi")
       for m, u in _FMT},
    "lakehouse.commit_p50_s": "s", "lakehouse.commit_tail_s": "s",
    "lakehouse.scan_p50_s": "s", "lakehouse.write_amp": "ratio",
    "lakehouse.space_amp": "ratio",
    "streaming.epochs": "count", "streaming.empty_epochs": "count",
    "streaming.empty_epoch_frac": "ratio", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "B",
    "streaming.state_commit_s": "s",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.early_return_s": "s",
    "stream.epoch_p50_s": "s", "stream.epoch_tail_s": "s",
    "ops.fail_frac": "ratio",
    "bench.op_self_s": "s",
    "proc.steal_frac": "ratio", "proc.canary_s": "s", "proc.cpu_s": "s",
    "tracing.overhead_s": "s",
}
