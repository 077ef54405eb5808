"""The benchmark's metric catalogue: names, units, direction, bounds,
and which end-to-end metric each per-layer metric is expected to move.

``BENCHMARK.json`` at the repository root mirrors ``END_TO_END`` and the
``PER_LAYER`` entries with ``in_json=True`` (``selftest.py`` checks
this). The remaining per-layer entries are times that only one of the
two workloads exercises; the traced run prints them in its ``detail``
line, each with its target, but they are not part of the driver-facing
metric set, which every workload must report.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None
    # end-to-end metric@workload this metric should move
    moves: tuple[str, ...] = field(default_factory=tuple)
    in_json: bool = True


@dataclass
class Result:
    """What one workload run hands back to ``run.py``."""
    metrics: dict
    attempted: int
    failed: int
    mismatches: list
    detail: dict


# Bounds: on a 4-vCPU shared VM the seed-to-seed spread of a single
# cold-JVM run is 0.06-0.14 (ambient noise; the work per seed is the
# same), so every bound is the largest allowed.
END_TO_END = [
    Metric("setup_s", "s", "lower", 0.25),
    Metric("wall_s", "s", "lower", 0.25),
    Metric("kind_mean_ms", "ms", "lower", 0.25),
    Metric("ok_per_s", "1/s", "higher", 0.25),
]

_B, _S = "wall_s@batch", "kind_mean_ms@serve"

PER_LAYER = [
    Metric("session.start_s", "s", "lower", moves=("setup_s@serve", "setup_s@batch")),
    Metric("session.rss_peak_mb", "MB", "lower"),
    Metric("workspace.build_nodes_s", "s", "lower", moves=(_B, "setup_s@serve")),
    Metric("workspace.build_edges_s", "s", "lower", moves=(_B, "setup_s@serve")),
    Metric("workspace.validate_ids_s", "s", "lower", moves=(_B, "setup_s@serve")),
    Metric("workspace.bytes_written", "bytes", "lower", moves=(_B,)),
    Metric("workspace.labels_rebuilt", "count", "lower", moves=(_B,)),
    Metric("workspace.rebuild_precision", "ratio", "higher", moves=(_B,)),
    Metric("workspace.load_s", "s", "lower", moves=(_S, _B)),
    Metric("workspace.load_calls", "count", "lower", moves=(_S,)),
    Metric("workspace.files", "count", "lower", moves=(_S,)),
    Metric("workspace.bytes_rewritten_per_write", "bytes", "lower", moves=(_S,)),
    Metric("server.reads_failed_during_write", "count", "lower", moves=("ok_per_s@serve",)),
    Metric("transactions.staged", "count", "lower", moves=(_S,)),
    Metric("spark.jobs", "count", "lower", moves=(_S, _B)),
    Metric("spark.stages", "count", "lower", moves=(_S, _B)),
    Metric("spark.tasks", "count", "lower", moves=(_S, _B)),
    Metric("spark.task_s", "s", "lower", moves=(_B, "ok_per_s@serve")),
    Metric("spark.cpu_s", "s", "lower", moves=(_B, "ok_per_s@serve")),
    Metric("spark.driver_gap_s", "s", "lower", moves=(_B, _S)),
    Metric("spark.shuffle_read_bytes", "bytes", "lower", moves=(_B,)),
    Metric("spark.shuffle_write_bytes", "bytes", "lower", moves=(_B,)),
    Metric("spark.spill_bytes", "bytes", "lower", moves=(_B,)),
    Metric("spark.exchanges", "count", "lower", moves=(_B, _S)),
    Metric("catalyst.analysis_ms", "ms", "lower", moves=(_S, _B)),
    Metric("graph.bfs_s", "s", "lower", moves=(_B, _S)),
    Metric("graph.cc_jobs", "count", "lower", moves=(_B,)),
    Metric("graph.pagerank_jobs", "count", "lower", moves=(_B,)),
    Metric("graph.kcore_jobs", "count", "lower", moves=(_B,)),
    Metric("graph.bfs_jobs", "count", "lower", moves=(_B, _S)),
    Metric("graph.scc_jobs", "count", "lower", moves=(_B,)),
    Metric("streaming.triggers", "count", "lower", moves=(_B,)),
    Metric("streaming.state_rows_updated", "count", "lower", moves=(_B,)),
    Metric("trace.overhead_ms", "ms", "lower"),
    # times of one workload only: printed in the traced run's detail line
    Metric("workspace.dml_s", "s", "lower", moves=(_S,), in_json=False),
    Metric("arcadesql.execute_ms", "ms", "lower", moves=(_S,), in_json=False),
    Metric("arcadesql.dml_wait_ms", "ms", "lower", moves=(_S,), in_json=False),
    Metric("graphql.execute_ms", "ms", "lower", moves=(_S,), in_json=False),
    Metric("server.collect_ms", "ms", "lower", moves=(_S,), in_json=False),
    Metric("server.overhead_ms", "ms", "lower", moves=(_S,), in_json=False),
    Metric("transactions.commit_ms", "ms", "lower", moves=(_S,), in_json=False),
    Metric("catalyst.optimization_ms", "ms", "lower", moves=(_B,), in_json=False),
    Metric("catalyst.planning_ms", "ms", "lower", moves=(_B,), in_json=False),
    Metric("graph.cc_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("graph.pagerank_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("graph.kcore_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("graph.scc_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("graph.degrees_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("pipeline.q77_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("pipeline.q93_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("streaming.q56_s", "s", "lower", moves=(_B,), in_json=False),
    Metric("streaming.trigger_ms", "ms", "lower", moves=(_B,), in_json=False),
    Metric("streaming.add_batch_ms", "ms", "lower", moves=(_B,), in_json=False),
    Metric("streaming.state_commit_ms", "ms", "lower", moves=(_B,), in_json=False),
]

END_TO_END_NAMES = [m.name for m in END_TO_END]
WORKLOADS = ("serve", "batch")
NO_TARGET = {"session.rss_peak_mb", "trace.overhead_ms"}


def end_to_end(setup_s: float, wall_s: float, ops: list[tuple[str, float | None]]) -> dict:
    """The end-to-end metrics of one run from its set-up time, the wall
    time of its fixed batch and ``(kind, latency)`` for every attempted
    operation, latency ``None`` for one that failed.

    ``kind_mean_ms`` is the mean over operation kinds of each kind's
    median latency, over successful operations (failures count in
    ``ok_per_s`` and ``failed``). Weighing kinds equally keeps it from
    jumping when a plain median of a mix whose kinds differ 20x in cost
    falls between two kinds, and the mean over kinds averages the noise
    of any single one."""
    by_kind: dict[str, list[float]] = {}
    for kind, lat in ops:
        if lat is not None:
            by_kind.setdefault(kind, []).append(lat)
    return {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "kind_mean_ms": statistics.mean(
            statistics.median(xs) for xs in by_kind.values()) * 1e3,
        "ok_per_s": sum(len(xs) for xs in by_kind.values()) / wall_s,
    }


PER_LAYER_NAMES = [m.name for m in PER_LAYER if m.in_json]
UNITS = {m.name: m.unit for m in END_TO_END + PER_LAYER}
