"""The benchmark's metrics: names, units, and how a run's record folds
into them.  ``BENCHMARK.json`` declares the same lists (a test keeps
the two equal)."""

from __future__ import annotations

import statistics
from typing import Dict, List, Tuple

from .trace import STAGE_STATS, layer_stats, median_layers

# (name, unit, better)
END_TO_END: List[Tuple[str, str, str]] = [
    ("setup_s", "s", "lower"),
    ("iter_s", "s", "lower"),
    ("driver_py_peak_rss_mb", "MB", "lower"),
]

LAYERS = ("sources.pages_table", "operators.burn", "operators.sparse",
          "mbtiles", "operators.spatial", "operators.dedup",
          "operators.similarity", "functions.text")

_SPAN_STATS = {
    "wall_s": ("s", "lower"), "self_s": ("s", "lower"),
    "jobs": ("count", "lower"), "tasks": ("count", "lower"),
    "task_run_s": ("s", "lower"), "jvm_cpu_s": ("s", "lower"),
    "non_jvm_s": ("s", "lower"), "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"), "task_max_over_median": ("ratio", "lower"),
}

EXTRAS: List[Tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("sources.pages_table.plan_s", "s", "lower"),
    ("sources.pages_table.files_planned", "count", "lower"),
    ("sources.pages_table.files_total", "count", "lower"),
    ("operators.burn.pixel_rows", "count", "lower"),
    ("operators.burn.combine_ratio", "ratio", "higher"),
    ("operators.sparse.tiles", "count", "higher"),
    ("operators.sparse.images", "count", "higher"),
    ("operators.sparse.images_per_tile", "ratio", "higher"),
    ("renderers.png_mb", "MB", "lower"),
    ("renderers.raw_mb", "MB", "lower"),
    ("mbtiles.rows", "count", "higher"),
    ("mbtiles.rows_per_s", "1/s", "higher"),
    ("mbtiles.file_mb", "MB", "lower"),
    ("mbtiles.file_bytes_per_png_byte", "ratio", "lower"),
    ("operators.spatial.pip_rows", "count", "higher"),
    ("operators.spatial.knn_rows", "count", "higher"),
    ("operators.spatial.knn_jobs", "count", "lower"),
    ("operators.spatial.pip_s", "s", "lower"),
    ("operators.spatial.knn_s", "s", "lower"),
    ("operators.dedup.pairs", "count", "higher"),
    ("operators.similarity.rows", "count", "higher"),
    ("functions.text.rows", "count", "higher"),
    ("bench.tiles_per_s", "1/s", "higher"),
    ("bench.pip_join_s", "s", "lower"),
    ("bench.knn_join_s", "s", "lower"),
    ("bench.near_dup_s", "s", "lower"),
    ("bench.ann_s", "s", "lower"),
    ("bench.mix_iter_s", "s", "lower"),
    ("bench.ops_failed_ratio", "ratio", "lower"),
    ("bench.first_iter_s", "s", "lower"),
    ("bench.untraced_iter_s", "s", "lower"),
    ("bench.traced_iter_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("context.nproc", "count", "higher"),
    ("context.md5_gbps", "GB/s", "higher"),
    ("context.loadavg_1m", "load", "lower"),
]


def per_layer_catalog() -> List[Tuple[str, str, str]]:
    spans = [(f"{layer}.{stat}",) + _SPAN_STATS[stat]
             for layer in LAYERS for stat in ("wall_s", "self_s")
             + STAGE_STATS]
    return spans + EXTRAS


UNITS = {name: unit for name, unit, _ in END_TO_END + per_layer_catalog()}


def with_units(metrics: Dict[str, float]) -> Dict[str, dict]:
    return {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _kind(record: dict, kind: str, traced: bool = False) -> List[dict]:
    return [it for it in record["iterations"]
            if it["kind"] == kind and it["traced"] == traced]


def end_to_end(record: dict) -> Dict[str, float]:
    """Medians over the set-up rounds and over the timed iterations,
    each in a fresh session: wall-clock seconds as measured."""
    its = _kind(record, "fresh")
    return {
        "setup_s": _med(record["setup_rounds_s"]),
        "iter_s": _med(it["wall_s"] for it in its),
        "driver_py_peak_rss_mb": _med(it["peak_rss_mb"] for it in its),
    }


def _op_wall(spans, iteration: int, ops: Tuple[str, ...]) -> float:
    return sum(s.wall for s in spans
               if s.iteration == iteration and s.op in ops)


def per_layer(record: dict, tracer, groups: Dict[str, dict]
              ) -> Dict[str, float]:
    """Every per-layer metric; zero where the workload has no such
    layer or count.  Span statistics come from the traced warm
    iteration; timings of single calls are medians over the timed
    fresh-session iterations, as the end-to-end metrics are."""
    out = {name: 0.0 for name, _, _ in per_layer_catalog()}
    plain = [it["index"] for it in _kind(record, "fresh")]
    traced = [it["index"] for it in _kind(record, "warm", traced=True)]
    spans = tracer.spans

    per_iter = [layer_stats(tracer.iteration_spans(i), groups)
                for i in traced]
    for layer, stats in median_layers(per_iter).items():
        for stat, value in stats.items():
            key = f"{layer}.{stat}"
            if key in out:
                out[key] = value
    out.update(record.get("layer_counts", {}))

    def fresh_med(*ops):
        return _med(_op_wall(spans, i, ops) for i in plain)

    loads = [s.wall for s in spans
             if s.op == "load_pages" and s.iteration in plain]
    out["sources.pages_table.plan_s"] = _med(loads)
    mb_wall = out["mbtiles.wall_s"]
    out["mbtiles.rows_per_s"] = (out["mbtiles.rows"] / mb_wall
                                 if mb_wall else 0.0)
    out["session.start_s"] = record["session_start_s"]
    untraced_iter = _med(it["wall_s"] for it in _kind(record, "warm"))
    traced_iter = _med(it["wall_s"] for it in _kind(record, "warm", True))
    out["bench.first_iter_s"] = record["iterations"][0]["wall_s"]
    fresh_iter = _med(it["wall_s"] for it in _kind(record, "fresh"))
    out["bench.untraced_iter_s"] = untraced_iter
    out["bench.traced_iter_s"] = traced_iter
    if out["operators.sparse.tiles"] and fresh_iter:
        out["bench.tiles_per_s"] = out["operators.sparse.tiles"] / fresh_iter
    if record["workload"] == "queries_mix":
        out["bench.pip_join_s"] = fresh_med("point_in_polygon_join")
        out["bench.knn_join_s"] = fresh_med("knn_join")
        out["bench.near_dup_s"] = fresh_med("minhash_lsh_pairs",
                                               "simhash_pairs")
        out["bench.ann_s"] = fresh_med("ann_topk_matmul", "ann_topk_ivf")
        out["bench.mix_iter_s"] = fresh_iter
        out["operators.spatial.pip_s"] = out["bench.pip_join_s"]
        out["operators.spatial.knn_s"] = out["bench.knn_join_s"]
        knn_jobs = [groups.get(s.job_group or "", {}).get("jobs", 0)
                    for s in spans if s.op == "knn_join"
                    and s.iteration in traced]
        out["operators.spatial.knn_jobs"] = _med(knn_jobs)
    its = record["iterations"]
    attempted = sum(it["attempted"] for it in its)
    out["bench.ops_failed_ratio"] = (
        sum(it["failed"] for it in its) / attempted if attempted else 0.0)
    if traced_iter and untraced_iter:
        out["trace.overhead_s"] = traced_iter - untraced_iter
        out["trace.overhead_ratio"] = traced_iter / untraced_iter - 1.0
    coverage = []
    for i in traced:
        its_spans = tracer.iteration_spans(i)
        root = next(s for s in its_spans if s.parent is None)
        covered = sum(s.wall for s in its_spans if s.parent == root.span_id)
        coverage.append(covered / root.wall)
    out["trace.coverage"] = _med(coverage)
    ctx = record.get("context", {})
    out["context.nproc"] = ctx.get("nproc", 0)
    out["context.md5_gbps"] = record["md5_gbps"]
    out["context.loadavg_1m"] = record["loadavg_before"][0]
    return out
