"""Per-layer metrics of a traced run, folded from spans and the event log.

Each metric is named ``<layer>.<metric>``, the layer being the package
module (and, for the pipeline, the stage) whose public function the span
wrapped, or the module whose eager call started a job:

* ``call_s`` - wall time of the call; ``jobs`` - Spark jobs it ran;
  ``task_s`` - summed task run time (how busy the executors were);
  ``driver_gap_s`` - the part of the call with no job running (driver-side
  planning and round trips); ``outside_manifest_s`` - ``call_s`` minus the
  stage manifest's own ``wall_sec``; ``failed_tasks``.
* kernels called directly: ``plan_s`` (until the DataFrame returns),
  ``exec_s`` (the action that consumes it), ``rows_out``.
* by call site: ``jobs`` and ``job_s`` (summed job durations) of the jobs a
  module's eager calls started, wherever it was called from.

Values are per timed unit (one pass or one sweep), median over the run's
timed units; a layer the workload does not reach reads 0.

Which end-to-end metric each layer should move, and where (the increment
is the last step of the ``pages_linkage`` pass):

=================================  ====================  ===================  ==================
layer                              should move           mostly on            little/none on
=================================  ====================  ===================  ==================
session                            setup_s               all                  -
plans.pipeline.extract             wall_s                pages_linkage        part_sweep
plans.pipeline.blocking            wall_s                pages_linkage        part_sweep
plans.pipeline.scoring             wall_s, rows_per_s    pages_linkage        part_sweep
plans.pipeline.clustering          wall_s                pages_linkage        part_sweep
plans.pipeline.increment           wall_s                pages_linkage        part_sweep
plans.stats,                       wall_s                part_sweep,          -
operators.token_ordering                                 pages_linkage
plans.skew (by call site)          wall_s                pages_linkage        part_sweep
                                                         (blocking)           (tiny-join gate)
operators.connected_components     wall_s                pages_linkage        part_sweep
plans.pipeline.Stage.write         wall_s                pages_linkage        part_sweep
operators.set_sim_join,            wall_s                part_sweep           pages_linkage
operators.edit_distance_join
every stage layer: failed_tasks    failed / attempted    all                  -
=================================  ====================  ===================  ==================
"""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path

from spans import SiteNamer, Spans, Usage, read_jobs

STAGE = ("call_s", "jobs", "task_s", "failed_tasks")
LAYERS = {
    "session": ("build_s", "jobs"),
    "plans.pipeline.extract": STAGE + ("shuffle_write_mb",),
    "plans.pipeline.blocking": STAGE + ("driver_gap_s", "shuffle_write_mb", "spill_mb",
                                        "candidates", "outside_manifest_s"),
    "plans.pipeline.scoring": STAGE + ("matches", "candidate_pairs_per_s",
                                       "candidates_per_match"),
    "plans.pipeline.clustering": STAGE + ("driver_gap_s", "cc_rounds", "outside_manifest_s"),
    "plans.pipeline.increment": STAGE + ("driver_gap_s", "shuffle_write_mb"),
    "operators.set_sim_join": ("plan_s", "exec_s", "jobs", "rows_out", "failed_tasks"),
    "operators.edit_distance_join": ("plan_s", "exec_s", "jobs", "rows_out", "failed_tasks"),
    "plans.stats": ("jobs", "job_s"),
    "operators.token_ordering": ("jobs", "job_s"),
    "plans.skew": ("jobs", "job_s"),
    "operators.connected_components": ("jobs", "job_s"),
    "plans.pipeline.Stage.write": ("jobs", "job_s"),
    "trace": ("wall_s", "coverage", "warm_up_s"),
}
UNITS = {
    "jobs": "count", "failed_tasks": "count", "candidates": "count", "matches": "count",
    "cc_rounds": "count", "rows_out": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "candidate_pairs_per_s": "1/s", "candidates_per_match": "ratio", "coverage": "ratio",
}
HIGHER_IS_BETTER = {"candidate_pairs_per_s", "coverage", "rows_out", "matches"}


def names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    return [
        (f"{layer}.{m}", UNITS.get(m, "s"), "higher" if m in HIGHER_IS_BETTER else "lower")
        for layer, ms in LAYERS.items() for m in ms
    ]


def _unit_metrics(spans: Spans, root, usage: dict) -> tuple[dict, list]:
    """Metrics and the job attribution of one timed unit."""
    out: dict[str, float] = defaultdict(float)
    calls = spans.children(root)
    out["trace.wall_s"] = root.seconds
    out["trace.coverage"] = sum(c.seconds for c in calls) / root.seconds
    attribution = []
    for c in calls:
        u = Usage()
        for leaf in spans.leaves(c):
            u.add(usage.get(leaf.group, Usage()))
        layer = c.name
        gap = c.seconds - u.busy_s(c.start, c.end)
        out[f"{layer}.jobs"] += len(u.jobs)
        out[f"{layer}.task_s"] += u.task_s
        out[f"{layer}.failed_tasks"] += u.failed_tasks
        out[f"{layer}.shuffle_write_mb"] += u.shuffle_write_mb
        out[f"{layer}.spill_mb"] += u.spill_mb
        out[f"{layer}.call_s"] += c.seconds
        out[f"{layer}.driver_gap_s"] += gap
        for leaf in spans.children(c):
            out[f"{layer}.{leaf.name}_s"] += leaf.seconds  # plan_s, exec_s
        out[f"{layer}.rows_out"] += c.info.get("rows", 0)
        by_site: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for j in u.jobs:
            site = j.site or "(no call site)"
            by_site[site][0] += 1
            by_site[site][1] += j.end - j.start
            if j.site:
                out[f"{j.site}.jobs"] += 1
                out[f"{j.site}.job_s"] += j.end - j.start
        a = {"call": c.info.get("call", layer), "call_s": round(c.seconds, 4),
             "jobs": len(u.jobs), "driver_gap_s": round(gap, 4),
             "jobs_by_site": {k: [n, round(s, 4)] for k, (n, s) in sorted(by_site.items())}}
        manifest = c.info.get("manifest")
        if manifest:
            out[f"{layer}.outside_manifest_s"] = c.seconds - manifest["wall_sec"]
            a["outside_manifest"] = _outside_manifest(c, u, manifest["wall_sec"])
        if layer == "plans.pipeline.clustering":
            signatures = [j for j in u.jobs
                          if j.site == "operators.connected_components" and j.action == "first"]
            out["plans.pipeline.clustering.cc_rounds"] = max(len(signatures) - 1, 0)
        attribution.append(a)
    blocking = next((c for c in calls if c.name == "plans.pipeline.blocking"), None)
    scoring = next((c for c in calls if c.name == "plans.pipeline.scoring"), None)
    if blocking and scoring:
        cand = blocking.info["manifest"]["n_rows"]
        matches = scoring.info["manifest"]["n_rows"]
        out["plans.pipeline.blocking.candidates"] = cand
        out["plans.pipeline.scoring.matches"] = matches
        out["plans.pipeline.scoring.candidate_pairs_per_s"] = cand / scoring.seconds
        out["plans.pipeline.scoring.candidates_per_match"] = cand / max(matches, 1)
    return out, attribution


def _outside_manifest(call, u: Usage, manifest_s: float) -> dict:
    """Split the part of a stage call before its manifest write began into
    named jobs and driver gap. The write is the call's last step, so it
    started ``manifest_s`` before the call ended."""
    edge = call.end - manifest_s
    by_site: dict[str, float] = defaultdict(float)
    for j in u.jobs:
        s, e = j.start, min(j.end, edge)
        if e > s:
            by_site[j.site or "(no call site)"] += e - s
    return {
        "outside_manifest_s": round(edge - call.start, 4),
        "job_s_by_site": {k: round(v, 4) for k, v in sorted(by_site.items())},
        "driver_gap_s": round((edge - call.start) - u.busy_s(call.start, edge), 4),
    }


def per_layer(spans: Spans, roots: list, event_log: Path, package: Path,
              build_s: float, warm_up_s: float) -> tuple[dict, list]:
    """name -> (value, unit) for every per-layer metric, and the job
    attribution of every timed unit."""
    usage = read_jobs(event_log, SiteNamer(package))
    units = [_unit_metrics(spans, r, usage) for r in roots]
    metrics = {}
    for name, unit, _ in names():
        vals = [m.get(name, 0.0) for m, _ in units]
        metrics[name] = (statistics.median(vals) if vals else 0.0, unit)
    metrics["session.build_s"] = (build_s, "s")
    metrics["session.jobs"] = (len(usage.get(None, Usage()).jobs), "count")
    metrics["trace.warm_up_s"] = (warm_up_s, "s")
    return metrics, [a for _, a in units]
