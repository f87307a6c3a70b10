"""Which end-to-end metric each per-layer metric is expected to move, on
which workload, and where the prediction is no change.

Names, units, bounds and workloads live in ``BENCHMARK.json`` at the
checkout root (:func:`spec` reads it); this map is keyed by the
per-layer names listed there.  Per-layer values are per timed pass
(median over passes) unless the name says otherwise; a layer a workload
never calls reads 0.
"""

from __future__ import annotations

import json
import os

from common import ROOT


def spec() -> dict:
    """The parsed ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


BI, WH = "bi_suite", "warehouse_build"
_READ = ("wall_s,op_p50_s", BI, WH)
_BUILD = ("wall_s,cpu_s,failed_ratio", WH, BI)
_PUBLISH = ("wall_s,stored_mb", WH, BI)
_LAND = ("op_p50_s", WH, BI)
_EXEC = ("cpu_s", "all", "")

# per-layer name: (moves, on, bypass)
LAYER_MAP = {
    "session.start_s": ("setup_s", "all", ""),
    "session.warm_pass_s": ("setup_s", "all", ""),
    "sources.readers.calls": _READ,
    "sources.readers.s": _READ,
    "sources.readers.jobs": _READ,
    "queries.build_s": _READ,
    "queries.build_jobs": _READ,
    "queries.build_cpu_s": _READ,
    "queries.exec_s": ("wall_s,cpu_s", BI, WH),
    "queries.exec_cpu_s": ("wall_s,cpu_s", BI, WH),
    "plans.catalyst_ms": ("op_p50_s", BI, WH),
    "star.build_call_s": _BUILD,
    "star.silver_s": _BUILD,
    "star.silver_cpu_s": _BUILD,
    "plans.quality_s": _BUILD,
    "plans.pipeline.attempts": _BUILD,
    "sources.snapshot_table.publish_s": _PUBLISH,
    "sources.snapshot_table.files_written": _PUBLISH,
    "sources.snapshot_table.mb_written": _PUBLISH,
    "sources.snapshot_table.append_s": _LAND,
    "sources.snapshot_table.appends": _LAND,
    "sources.snapshot_table.compact_s": ("op_tail_s", WH, BI),
    "sources.snapshot_table.manifest_files": ("op_p50_s,op_tail_s", WH, BI),
    "streaming.incremental_dedup.batch_s": _LAND,
    "streaming.incremental_dedup.kept_ratio": _LAND,
    "streaming.incremental_dedup.gate_decisions": _LAND,
    "operators.lifecycle.pin_s": ("op_p50_s,heap_live_mb", WH, BI),
    "operators.lifecycle.storage_mb": ("op_p50_s,heap_live_mb", WH, BI),
    "exec.stages": ("cpu_s,op_p50_s", "all", ""),
    "exec.tasks": _EXEC,
    "exec.run_s": _EXEC,
    "exec.gc_s": _EXEC,
    "exec.shuffle_read_mb": _EXEC,
    "exec.shuffle_write_mb": _EXEC,
    "exec.spill_mb": _EXEC,
    "trace.overhead_s": ("none: the tracer's own time inside a pass", "all", ""),
}
