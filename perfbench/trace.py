"""Spans around calls into the program's layers, with Spark job attribution.

A :class:`Tracer` records one span per call: name, start, end, parent and
op id.  While a span is open its id is the thread's Spark job group, so
every job the call launches (eager barriers during plan construction
included) is attributed to the innermost open span.  After each op the
tracer reads the jobs, stages and task metrics of that op's spans from
Spark's status store, and the SQL executions' final plans for exchange
counts; nothing is re-planned or re-run to count them.

:func:`instrument` wraps the program's public layer functions in spans
for the duration of a traced run and restores them afterwards.  The
program itself carries no tracing code.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import time

_EXCHANGE = re.compile(r"\b(?:Broadcast|Shuffle)?Exchange\b")


def count_exchanges(plan: str) -> int:
    """Exchange operators in the final physical plan of a SQL execution's
    plan description (the adaptive final plan when there is one)."""
    tree = plan.split("== Physical Plan ==", 1)[-1]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    tree = tree.split("\n\n", 1)[0]
    return sum(1 for line in tree.splitlines() if _EXCHANGE.search(line))


class Tracer:
    """Spans of one traced run, kept in memory until the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_list = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._sql_seen = self._sql.executionsCount()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        #: wall seconds of span bookkeeping inside ops, and of reading the
        #: status stores between ops
        self.span_s = 0.0
        self.harvest_s = 0.0

    def _group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "parent": parent, "op": self.op,
            "start": 0.0, "end": 0.0, "jobs": [], "spark": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        rec["start"] = time.perf_counter()
        self.span_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self.span_s += time.perf_counter() - rec["end"]

    def harvest(self, spans: list[dict]) -> None:
        """Fill ``spark`` counters of ``spans`` from the status stores."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        job_owner = {}
        for rec in spans:
            rec["jobs"] = sorted(
                self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{rec['id']}")
            )
            rec["spark"] = dict.fromkeys(
                ("stages", "tasks", "one_task_stages", "task_ms", "gc_ms",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "failed_tasks", "exchanges"), 0,
            )
            for j in rec["jobs"]:
                job_owner[j] = rec
                self._add_job(rec["spark"], j)
        n = self._sql.executionsCount()
        if n > self._sql_seen:
            execs = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
            for i in range(execs.size()):
                ex = execs.apply(i)
                jobs = [int(x) for x in ex.jobs().keys().mkString(",").split(",") if x]
                owner = next((job_owner[j] for j in jobs if j in job_owner), None)
                if owner is not None:
                    owner["spark"]["exchanges"] += count_exchanges(
                        str(ex.physicalPlanDescription())
                    )
            self._sql_seen = n
        self.harvest_s += time.perf_counter() - t0

    def _add_job(self, acc: dict, job_id: int) -> None:
        job = self._store.job(job_id)
        for sid in (int(x) for x in job.stageIds().mkString(",").split(",") if x):
            attempts = self._store.stageData(sid, False, self._no_list, False, self._no_q)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                acc["stages"] += 1
                acc["tasks"] += st.numTasks()
                acc["one_task_stages"] += st.numTasks() == 1
                acc["task_ms"] += st.executorRunTime()
                acc["gc_ms"] += st.jvmGcTime()
                acc["shuffle_read_bytes"] += st.shuffleReadBytes()
                acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
                acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                acc["failed_tasks"] += st.numFailedTasks()


#: layer name -> (module, attribute names).  ``None`` names every public
#: function defined in the module; a class name with ``.`` selects methods.
LAYERS = {
    "manager": ("gridded_etl_tools_spark.manager",
                ["DatasetManager.transform", "DatasetManager.parse",
                 "DatasetManager.run_etl"]),
    "sources": ("gridded_etl_tools_spark.sources.scan", ["scan_gridded"]),
    "sinks.publish": ("gridded_etl_tools_spark.sinks.publish",
                      ["publish", "insert_into"]),
    "sinks.table": ("gridded_etl_tools_spark.sinks.table",
                    ["GriddedTable.write_initial", "GriddedTable.append",
                     "GriddedTable.overwrite_buckets", "GriddedTable.read",
                     "GriddedTable.pruned_file_count"]),
    **{
        f"operators.{m}": (f"gridded_etl_tools_spark.operators.{m}", None)
        for m in ("qc", "climate", "aggregations", "reindex", "regrid",
                  "select", "dedup", "similarity", "clustering", "text",
                  "retrieval")
    },
}


def _public_functions(mod) -> list[str]:
    return [
        n for n, f in vars(mod).items()
        if not n.startswith("_") and inspect.isfunction(f)
        and f.__module__ == mod.__name__
    ]


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap every layer function of :data:`LAYERS` in a span, wherever a
    loaded module of the program binds it, until the block exits."""
    patches = []  # (owner, attribute, original)

    def wrap(fn, span_name):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)
        return traced

    try:
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names or _public_functions(mod):
                owner, attr = mod, name
                if "." in name:
                    cls, attr = name.split(".")
                    owner = getattr(mod, cls)
                orig = inspect.getattr_static(owner, attr)
                new = wrap(orig, f"{layer}.{attr}")
                patches.append((owner, attr, orig))
                setattr(owner, attr, new)
                if owner is not mod:
                    continue
                # names imported elsewhere (``from m import f``) are
                # separate bindings of the same function object
                for other in list(sys.modules.values()):
                    name_ = getattr(other, "__name__", "") or ""
                    if other is mod or not name_.startswith("gridded_etl_tools_spark"):
                        continue
                    for k, v in list(vars(other).items()):
                        if v is orig:
                            patches.append((other, k, orig))
                            setattr(other, k, new)
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
