"""Per-layer metrics of a traced run, computed from its spans.

Sums are per pass (a run measures whole passes, and their number depends
on speed).  A layer's time is the summed duration of its outermost spans:
a span nested in a span of the same layer is not counted twice.  Spark
counters of a span are those of the jobs launched while it was the
innermost open span; a layer's counters include its descendants'.
"""

from __future__ import annotations

import os
import statistics

#: the per-layer metrics, in report order: name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_ratio": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_per_op": "count",
    "spark.tasks": "count",
    "spark.one_task_stage_ratio": "ratio",
    "spark.core_util": "ratio",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.exchanges": "count",
    "sources.decode_s": "s",
    "sources.decode_cells_per_s": "cells/s",
    "sources.raw_bytes_read": "bytes",
    "manager.transform_build_s": "s",
    "manager.parse_s": "s",
    "manager.append_s": "s",
    "manager.cells_per_s": "cells/s",
    "operators.qc.s": "s",
    "sinks.table.write_s": "s",
    "sinks.table.bytes_written": "bytes",
    "sinks.table.files_written": "count",
    "sinks.table.write_amp": "ratio",
    "sinks.table.stored_bytes_per_value_byte": "ratio",
    "sinks.table.read_s": "s",
    "sinks.table.files_scanned_ratio": "ratio",
    "sinks.table.point_read_p50_s": "s",
    "operators.aggregations.build_s": "s",
    "operators.aggregations.exec_s": "s",
    "operators.regrid.build_s": "s",
    "operators.regrid.exec_s": "s",
    "operators.climate.build_s": "s",
    "operators.climate.exec_s": "s",
}

_WRITES = ("sinks.table.write_initial", "sinks.table.append",
           "sinks.table.overwrite_buckets")


class SpanIndex:
    """Lookups over a run's spans."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def matching(self, pred) -> list[dict]:
        """Spans matching ``pred`` with no matching ancestor."""
        out = []
        for s in self.spans:
            if not pred(s):
                continue
            p = s["parent"]
            while p is not None and not pred(self.spans[p]):
                p = self.spans[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def time(self, pred) -> float:
        return sum(s["end"] - s["start"] for s in self.matching(pred))

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s["id"], [])
        return out

    def jobs(self, pred) -> int:
        return sum(
            len(d["jobs"]) for s in self.matching(pred) for d in self.subtree(s)
        )


def self_times(spans: list[dict], n_pass: int) -> dict[str, float]:
    """Seconds per pass each layer spent in its own code, i.e. outside
    the spans it opened.  The values add up to the traced op time."""
    from perfbench.stats import self_time

    idx = SpanIndex(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].rsplit(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + self_time(
            s, idx.children.get(s["id"], [])) / n_pass
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def op_jobs(spans: list[dict]) -> dict[str, dict[str, int]]:
    """Spark jobs per op kind (summed over its ops), and how many of them
    ran while a catalog query was still being built (eager barriers)."""
    idx = SpanIndex(spans)
    out: dict[str, dict[str, int]] = {}
    for s in spans:
        if s["parent"] is not None or not s["name"].startswith("op."):
            continue
        acc = out.setdefault(s["name"][3:], {"jobs": 0, "build_jobs": 0})
        for d in idx.subtree(s):
            acc["jobs"] += len(d["jobs"])
            if d["name"] == "plans.build":
                acc["build_jobs"] += sum(len(x["jobs"]) for x in idx.subtree(d))
    return out


def _named(*names):
    return lambda s: s["name"] in names


def _prefixed(prefix):
    return lambda s: s["name"].startswith(prefix)


def layer_metrics(tracer, wl, ctx, res: dict, figures: dict, start_s: float,
                  decode: dict | None) -> dict:
    idx = SpanIndex(tracer.spans)
    n_pass = len(res["passes"])
    ops = res["ops"]
    op_s = sum(o["s"] for o in ops)
    nproc = len(os.sched_getaffinity(0))

    total = dict.fromkeys(tracer.spans[0]["spark"] if tracer.spans else (), 0)
    jobs = 0
    for s in tracer.spans:
        jobs += len(s["jobs"])
        for k, v in s["spark"].items():
            total[k] = total.get(k, 0) + v
    stages = total.get("stages", 0)

    m = {
        "session.start_s": start_s,
        # traced wall time over the same time less the tracer's own work
        "trace.overhead_ratio": op_s and (op_s + tracer.harvest_s) / (op_s - tracer.span_s),
        "plans.build_s": idx.time(_named("plans.build")) / n_pass,
        "plans.build_jobs": idx.jobs(_named("plans.build")) / n_pass,
        "plans.exec_s": idx.time(_named("plans.exec")) / n_pass,
        "plans.exec_jobs": idx.jobs(_named("plans.exec")) / n_pass,
        "spark.jobs": jobs / n_pass,
        "spark.stages": stages / n_pass,
        "spark.stages_per_op": stages / len(ops),
        "spark.tasks": total.get("tasks", 0) / n_pass,
        "spark.one_task_stage_ratio": stages and total["one_task_stages"] / stages,
        "spark.core_util": total.get("task_ms", 0) / 1000 / (op_s * nproc),
        "spark.task_s": total.get("task_ms", 0) / 1000 / n_pass,
        "spark.gc_s": total.get("gc_ms", 0) / 1000 / n_pass,
        "spark.shuffle_read_bytes": total.get("shuffle_read_bytes", 0) / n_pass,
        "spark.shuffle_write_bytes": total.get("shuffle_write_bytes", 0) / n_pass,
        "spark.spill_bytes": total.get("spill_bytes", 0) / n_pass,
        "spark.failed_tasks": total.get("failed_tasks", 0) / n_pass,
        "spark.exchanges": total.get("exchanges", 0) / n_pass,
        "sources.decode_s": decode["s"] if decode else 0.0,
        "sources.decode_cells_per_s": decode["cells"] / decode["s"] if decode else 0.0,
        "sources.raw_bytes_read": decode["bytes"] if decode else 0,
        "manager.transform_build_s": idx.time(_named("manager.transform")) / n_pass,
        "manager.parse_s": idx.time(_named("manager.parse")) / n_pass,
        "manager.append_s": figures.get("append_s", {}).get("value", 0.0),
        "manager.cells_per_s": figures.get("cells_per_s", {}).get("value", 0.0),
        "operators.qc.s": idx.time(_prefixed("operators.qc.")) / n_pass,
        "sinks.table.write_s": idx.time(_named(*_WRITES)) / n_pass,
        "sinks.table.bytes_written": sum(o.get("bytes_written", 0) for o in ops) / n_pass,
        "sinks.table.files_written": sum(o.get("files_written", 0) for o in ops) / n_pass,
        "sinks.table.write_amp": 0.0,
        "sinks.table.stored_bytes_per_value_byte":
            figures.get("stored_bytes_per_value_byte", {}).get("value", 0.0),
        "sinks.table.read_s": idx.time(
            _named("sinks.table.read", "sinks.table.exec")) / n_pass,
        "sinks.table.files_scanned_ratio":
            statistics.mean(ctx.files_scanned) if ctx.files_scanned else 0.0,
        "sinks.table.point_read_p50_s":
            figures.get("point_read_p50_s", {}).get("value", 0.0),
    }
    if getattr(wl, "writes", False):
        value_bytes = 4 * wl.published_cells
        m["sinks.table.write_amp"] = m["sinks.table.bytes_written"] / value_bytes
    for mod in ("aggregations", "regrid", "climate"):
        m[f"operators.{mod}.build_s"] = idx.time(
            lambda s, mod=mod: s["name"].startswith(f"operators.{mod}.")
            and s["name"] != f"operators.{mod}.exec") / n_pass
        m[f"operators.{mod}.exec_s"] = idx.time(
            _named(f"operators.{mod}.exec")) / n_pass
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
