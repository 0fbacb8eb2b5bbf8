"""Metric catalogue and the per-layer numbers of the traced run.

``END_TO_END`` and ``PER_LAYER`` are the benchmark's metric names and
units (BENCHMARK.json lists the same).  Every traced run reports every
per-layer metric; a layer the workload bypasses reports 0.
"""

from __future__ import annotations

import statistics

from tracing import EventLog, is_python_node, plan_shape, task_skew, task_totals

END_TO_END = {"rows_per_s": "rows/s", "rows_per_cpu_s": "rows/cpu-s", "setup_s": "s",
              "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "pipeline.stage.geocode.wall_s": "s",
    "pipeline.stage.zone_join.wall_s": "s",
    "pipeline.stage.tiles.wall_s": "s",
    "pipeline.stage.pyramid.wall_s": "s",
    "pipeline.stage_sum_s": "s",
    "pipeline.stage_gap_s": "s",
    "manifest.bytes_written_per_row": "bytes",
    "manifest.files_written": "count",
    "manifest.resume_s": "s",
    "sources.geocode.arrow_udf_nodes": "count",
    "spatial_join.broadcast.wall_s": "s",
    "spatial_join.salted.wall_s": "s",
    "spatial_join.candidate_join.wall_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.matches": "count",
    "spatial_join.match_ratio": "ratio",
    "spatial_join.salted_cells": "count",
    "spatial_join.plan.broadcast_joins": "count",
    "spatial_join.plan.exchanges": "count",
    "spatial_join.plan.arrow_udf_nodes": "count",
    "st.pip_udf.python_s": "s",
    "st.pip_udf.bytes_sent": "bytes",
    "st.pip_udf.bytes_sent_per_candidate": "bytes",
    "st.pip_udf.rows": "count",
    "knn.cells.wall_s": "s",
    "knn.cells.candidates": "count",
    "knn.broadcast.wall_s": "s",
    "knn.broadcast.python_s": "s",
    "rasterize.wall_s": "s",
    "rasterize.python_s": "s",
    "rasterize.shuffle_bytes": "bytes",
    "rasterize.partials": "count",
    "rasterize.tiles_out": "count",
    "pyramid.wall_s": "s",
    "pyramid.jobs": "count",
    "pyramid.python_s": "s",
    "polygonize.wall_s": "s",
    "polygonize.python_s": "s",
    "polygonize.shuffle_bytes": "bytes",
    "polygonize.regions": "count",
    **{f"kernels.{k}.points_per_s": "points/s" for k in ("pip", "burn")},
    "kernels.burn.polygons_per_s": "polygons/s",
    "kernels.wkb.polygons_per_s": "polygons/s",
    "kernels.ccl.pixels_per_s": "pixels/s",
    **{f"kernels.{k}.{u}_{s}": ("count" if s == "ops" else "bytes")
       for k, u in (("pip", "points"), ("wkb", "polygons"), ("burn", "points"),
                    ("burn", "polygons"), ("ccl", "pixels"))
       for s in ("ops", "bytes")},
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.python_boot_s": "s",
    "spark.task_skew": "ratio",
    "trace.ops": "count",
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.eventlog_bytes": "bytes",
    "host.work_rate_1": "Mops/s",
    "host.speedup_4": "ratio",
}

PYTHON_RUN = "time to run Python workers"


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _python_s(log: EventLog, eids) -> float:
    return log.node_metric(eids, is_python_node, PYTHON_RUN)


def _shuffle_bytes(log: EventLog, groups) -> float:
    return sum(t["shuffle_write_bytes"] for t in log.tasks_in(groups))


def _span_groups(tr, name: str) -> list[set[str]]:
    return [tr.subtree(s["id"]) for s in tr.named(name)]


def _wall(tr, name: str) -> float:
    return _med(s["end"] - s["start"] for s in tr.named(name))


def _exec_tasks(log: EventLog, eids: set[int]) -> list[dict]:
    jobs = {j for j, e in log.job_exec.items() if e in eids}
    return [t for t in log.tasks if log.stage_job.get(t["stage"]) in jobs]


def spark_layer(log: EventLog, tr, op_span: str, cores: int) -> dict:
    """Task-level engine work per traced operation (means over ops)."""
    rows = []
    for s in tr.named(op_span):
        tasks = log.tasks_in(tr.subtree(s["id"]))
        tot = task_totals(tasks)
        wall = s["end"] - s["start"]
        tot["cpu_util"] = tot["executor_cpu_s"] / (wall * cores) if wall > 0 else 0.0
        tot["python_boot_s"] = log.metric_by_name(tasks, "time to start Python workers")
        tot["task_skew"] = task_skew(log, tasks)
        rows.append(tot)
    if not rows:
        return {}
    return {f"spark.{k}": statistics.fmean(r[k] for r in rows) for k in rows[0]}


def pipeline_layers(log: EventLog, tr, wl, ops: list[dict]) -> dict:
    out: dict[str, float] = {}
    stage_walls = {k: [] for k in ("geocode", "zone_join", "tiles", "pyramid")}
    sums, gaps, written, files = [], [], [], []
    geo_nodes, shapes, pip, raster, pyr = [], [], [], [], []
    for o, s in zip(ops, tr.named("pipeline.run")):
        res = o["results"]
        for k in ("geocode", "zone_join", "tiles"):
            stage_walls[k].append(res[k].wall_s)
        stage_walls["pyramid"].append(sum(res[f"pyramid_z{z}"].wall_s for z in (7, 6, 5)))
        total = sum(v[-1] for v in stage_walls.values())
        sums.append(total)
        gaps.append(o["wall"] - total)
        fresh = [r for r in res.values() if not r.resumed]
        written.append(sum(r.bytes for r in fresh) / wl.rows)
        files.append(sum(r.n_files for r in fresh))
        # one SQL execution per written stage, in stage order
        eids = log.executions_in(tr.subtree(s["id"]))
        if len(eids) != len(wl.STAGES):
            raise RuntimeError(f"pipeline op ran {len(eids)} SQL executions, "
                               f"expected one per stage {wl.STAGES}")
        ex = dict(zip(wl.STAGES, eids))
        geo_nodes.append(plan_shape(log.plans[ex["geocode"]])["arrow_udf_nodes"])
        shapes.append(log.plan_shape(ex["zone_join"]))
        zj = [ex["zone_join"]]
        rows = log.node_metric(zj, lambda n: n == "ArrowEvalPython", "number of output rows")
        sent = log.node_metric(zj, lambda n: n == "ArrowEvalPython", "data sent to Python workers")
        pip.append((_python_s(log, zj), sent, rows, res["zone_join"].rows))
        tl = [ex["tiles"]]
        raster.append((_python_s(log, tl), sum(t["shuffle_write_bytes"]
                                              for t in _exec_tasks(log, set(tl))),
                       _partials(log, ex["tiles"]), res["tiles"].rows))
        pe = {ex[f"pyramid_z{z}"] for z in (7, 6, 5)}
        pyr.append((log.jobs_in_executions(pe), _python_s(log, pe)))
    for k, v in stage_walls.items():
        out[f"pipeline.stage.{k}.wall_s"] = _med(v)
    out["pipeline.stage_sum_s"] = _med(sums)
    out["pipeline.stage_gap_s"] = _med(gaps)
    out["manifest.bytes_written_per_row"] = _med(written)
    out["manifest.files_written"] = _med(files)
    out["manifest.resume_s"] = _med(wl.resume_times)
    out["sources.geocode.arrow_udf_nodes"] = max(geo_nodes)
    out.update(_shape_metrics(shapes))
    out["spatial_join.broadcast.wall_s"] = out["pipeline.stage.zone_join.wall_s"]
    out.update(_pip_metrics(pip))
    out["rasterize.wall_s"] = out["pipeline.stage.tiles.wall_s"]
    out["rasterize.python_s"] = _med(r[0] for r in raster)
    out["rasterize.shuffle_bytes"] = _med(r[1] for r in raster)
    out["rasterize.partials"] = _med(r[2] for r in raster)
    out["rasterize.tiles_out"] = _med(r[3] for r in raster)
    out["pyramid.wall_s"] = out["pipeline.stage.pyramid.wall_s"]
    out["pyramid.jobs"] = _med(p[0] for p in pyr)
    out["pyramid.python_s"] = _med(p[1] for p in pyr)
    return out


def _partials(log: EventLog, eid: int) -> float:
    """Rows out of the partial-burn groupBy of a two-phase (salted)
    burn: the deeper of two FlatMapGroupsInPandas nodes; 0 when the
    burn is single-phase."""
    depths = []

    def visit(node, d):
        if node.get("nodeName") == "FlatMapGroupsInPandas":
            depths.append((d, node))
        for c in node.get("children", []):
            visit(c, d + 1)

    visit(log.plans.get(eid, {}), 0)
    if len(depths) < 2:
        return 0.0
    deepest = max(depths, key=lambda x: x[0])[1]
    ids = {m["accumulatorId"] for m in deepest.get("metrics", [])
           if m["name"] == "number of output rows"}
    return sum(u for t in log.tasks for a, u in t["acc"].items() if a in ids)


def _shape_metrics(shapes: list[dict]) -> dict:
    return {f"spatial_join.plan.{k}": max(s[k] for s in shapes) for k in shapes[0]}


def _pip_metrics(pip: list[tuple], candidates: float | None = None) -> dict:
    """PIP UDF boundary numbers; candidates default to the rows the
    UDF saw (equal when PIP is evaluated once per candidate)."""
    py_s, sent, rows, matches = (list(x) for x in zip(*pip))
    out = {
        "st.pip_udf.python_s": _med(py_s),
        "st.pip_udf.bytes_sent": _med(sent),
        "st.pip_udf.rows": _med(rows),
        "spatial_join.matches": _med(matches),
    }
    out["st.pip_udf.bytes_sent_per_candidate"] = (
        out["st.pip_udf.bytes_sent"] / out["st.pip_udf.rows"] if out["st.pip_udf.rows"] else 0.0)
    out["spatial_join.candidates"] = (
        out["st.pip_udf.rows"] if candidates is None else candidates)
    out["spatial_join.match_ratio"] = (
        out["spatial_join.matches"] / out["spatial_join.candidates"]
        if out["spatial_join.candidates"] else 0.0)
    return out


def vector_layers(log: EventLog, tr, ops: list[dict], probes: list[dict]) -> dict:
    out: dict[str, float] = {}
    for name in ("spatial_join.broadcast", "spatial_join.salted",
                 "spatial_join.candidate_join", "knn.cells", "knn.broadcast"):
        out[f"{name}.wall_s"] = _wall(tr, name)
    shapes, pip, kc_cand, kb_py = [], [], [], []
    for o, g in zip(ops, _span_groups(tr, "spatial_join.broadcast")):
        eids = log.executions_in(g)
        shapes.append(max((log.plan_shape(e) for e in eids),
                          key=lambda s: s["broadcast_joins"] + s["arrow_udf_nodes"]))
        is_pip = lambda n: n == "ArrowEvalPython"  # noqa: E731
        pip.append((_python_s(log, eids),
                    log.node_metric(eids, is_pip, "data sent to Python workers"),
                    log.node_metric(eids, is_pip, "number of output rows"),
                    len(o["broadcast"])))
    for g in _span_groups(tr, "knn.cells"):
        kc_cand.append(log.node_metric(log.executions_in(g), lambda n: n.endswith("Join"),
                                       "number of output rows"))
    for g in _span_groups(tr, "knn.broadcast"):
        kb_py.append(_python_s(log, log.executions_in(g)))
    out.update(_shape_metrics(shapes))
    out["spatial_join.salted_cells"] = _med(p["salted_cells"] for p in probes)
    out.update(_pip_metrics(pip, _med(p["candidates"] for p in probes)))
    out["knn.cells.candidates"] = _med(kc_cand)
    out["knn.broadcast.python_s"] = _med(kb_py)
    return out


def raster_layers(log: EventLog, tr, ops: list[dict]) -> dict:
    out: dict[str, float] = {}
    for name in ("rasterize", "polygonize"):
        groups = _span_groups(tr, name)
        out[f"{name}.wall_s"] = _wall(tr, name)
        out[f"{name}.python_s"] = _med(_python_s(log, log.executions_in(g)) for g in groups)
        out[f"{name}.shuffle_bytes"] = _med(_shuffle_bytes(log, g) for g in groups)
    out["rasterize.partials"] = _med(
        max([_partials(log, e) for e in log.executions_in(g)] or [0.0])
        for g in _span_groups(tr, "rasterize"))
    out["rasterize.tiles_out"] = _med(o["n_tiles"] for o in ops)
    out["polygonize.regions"] = _med(len(o["regions"]) for o in ops)
    return out
