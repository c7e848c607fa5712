#!/usr/bin/env python3
"""Workload benchmark for gridded_etl_tools_spark.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root.  Stages seeded inputs, starts a local
session on all cores, then runs whole passes of the workload's ops in a
closed loop (one client: the next op starts when the previous one has
returned) until ``--seconds`` have elapsed, checking every result.  The
last line of standard output is one JSON object: with ``--trace 0`` its
metrics are the end-to-end metrics, with ``--trace 1`` the per-layer
metrics from a traced run.  The line before it holds the host record and
the detail behind the metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
STAGE_REPS = 3


def isolate(work: str) -> None:
    """Point every temp and scratch location of this process, the JVM it
    starts and the Python workers at ``work``, and let the workers import
    the package from the checkout whatever the current directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


class RssSampler:
    """Peak summed resident memory of a process and all its descendants."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def tree(self) -> set[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = set(), [self.pid]
        while todo:
            p = todo.pop()
            out.add(p)
            todo += children.get(p, [])
        return out

    def sample(self) -> None:
        total = 0
        self.pids = self.tree()
        for p in self.pids:
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def host_record(spark, nproc: int) -> dict:
    sc = spark.sparkContext
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": nproc,
        "ram_gb": round(mem_kb / 2**20, 1),
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        # read back from the live context: getOrCreate can keep an
        # earlier heap setting, so the requested value proves nothing
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "jvm_max_heap_mb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() >> 20,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
    }


def stop_session(spark, rss: RssSampler | None) -> None:
    """Stop Spark, end the JVM and wait until it and its workers exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    left = set(rss.pids) if rss else set()
    while left and time.monotonic() < deadline:
        left = {p for p in left if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def warm_up(spark, nproc: int) -> None:
    """Start the Python worker pool, so that its start lands in set-up
    rather than in whichever op first runs a Python function."""
    spark.range(0, nproc, numPartitions=nproc).mapInPandas(
        lambda it: it, "id long").collect()


def measure(wl, ctx, seconds: float, tracer=None) -> dict:
    """Whole passes of ops until ``seconds`` have elapsed."""
    ops: list[dict] = []
    passes = []
    t_start = time.perf_counter()
    p = 0
    while p == 0 or time.perf_counter() - t_start < seconds:
        for op in wl.pass_ops(p):
            rec = {"kind": op.kind, "pass": p, "ok": False}
            before = _listing(wl) if tracer else None
            n_spans = len(tracer.spans) if tracer else 0
            t0 = time.perf_counter()
            try:
                if tracer:
                    tracer.op = len(ops)
                    with tracer.span(f"op.{op.kind}"):
                        result = op.run()
                else:
                    result = op.run()
                rec["s"] = time.perf_counter() - t0
                try:
                    rec["ok"] = bool(op.check(result))
                except Exception:  # noqa: BLE001 - a failed check is a wrong result
                    traceback.print_exc(file=sys.stderr)
            except Exception:  # noqa: BLE001 - an op that errors counts as failed
                rec["s"] = time.perf_counter() - t0
                traceback.print_exc(file=sys.stderr)
            if not rec["ok"]:
                print(f"op failed: {op.kind} (pass {p})", file=sys.stderr)
            if tracer:
                tracer.harvest(tracer.spans[n_spans:])
                rec.update(_written(before, _listing(wl)))
            ops.append(rec)
        if getattr(wl, "writes", False):
            passes.append({"stored_bytes": _stored_bytes(wl.table)})
        else:
            passes.append({})
        p += 1
    return {"ops": ops, "passes": passes}


def _listing(wl) -> dict:
    root = getattr(wl, "table", None)
    if not getattr(wl, "writes", False) or root is None:
        return {}
    out = {}
    for d, _, files in os.walk(root.root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> dict:
    new = [k for k, v in after.items() if before.get(k) != v]
    return {"files_written": len(new), "bytes_written": sum(after[k][0] for k in new)}


def _stored_bytes(table) -> int:
    total = 0
    for path in table.snapshot().paths():
        local = path.split("file:", 1)[-1] if path.startswith("file:") else path
        total += os.path.getsize(local)
    return total


def tally(ops: list[dict]) -> tuple[int, int]:
    """(ops attempted, ops that errored or returned a wrong result)."""
    return len(ops), sum(not o["ok"] for o in ops)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(res: dict, setup_s: float) -> dict:
    from perfbench.stats import percentile

    lat = [o["s"] for o in res["ops"]]
    return {
        "setup_s": _metric(setup_s, "s"),
        # the checker's own time between ops is not the program's
        "ops_per_s": _metric(len(lat) / sum(lat), "op/s"),
        "op_p50_s": _metric(statistics.median(lat), "s"),
        "op_p90_s": _metric(percentile(lat, 90), "s"),
    }


def workload_figures(wl, res: dict) -> dict:
    """The workload's own end-to-end figures (reported, not gated)."""
    by_kind = _by_kind(res["ops"])
    out = {}
    if "point_read" in by_kind:
        out["point_read_p50_s"] = _metric(statistics.median(by_kind["point_read"]), "s")
    if getattr(wl, "writes", False):
        publish_s = sum(sum(by_kind[k]) for k in ("backfill", "append", "repair"))
        n = len(res["passes"])
        out["cells_per_s"] = _metric(wl.published_cells * n / publish_s, "cells/s")
        out["append_s"] = _metric(statistics.median(by_kind["append"]), "s")
        stored = statistics.median(p["stored_bytes"] for p in res["passes"])
        out["stored_bytes_per_value_byte"] = _metric(stored / (4 * wl.live_cells), "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", metavar="PATH",
                    help="with --trace 1, also write every span as JSON lines to PATH")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        try:
            import gridded_etl_tools_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"cannot import the program: {e}", file=sys.stderr)
            return 2
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        detail, result = run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def run(args, work: str, wl_cls) -> tuple[dict, dict]:
    from perfbench.layers import layer_metrics, op_jobs, self_times
    from perfbench.stats import NAME_RE, UNIT_RE, percentile, tail_percentile
    from perfbench.workloads import Ctx

    nproc = len(os.sched_getaffinity(0))
    ctx = Ctx(None, work, args.seed)
    wl = wl_cls(ctx, smoke=args.smoke)

    stage_s = []
    for rep in range(STAGE_REPS):
        t0 = time.perf_counter()
        wl.stage(rep)
        stage_s.append(time.perf_counter() - t0)

    oracle: dict = {}
    oracle_thread = None
    if hasattr(wl, "expected"):
        def compute():
            t0 = time.perf_counter()
            oracle["digests"] = wl.expected()
            oracle["s"] = time.perf_counter() - t0
        oracle_thread = threading.Thread(target=compute)
        oracle_thread.start()

    from gridded_etl_tools_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={work}",
        },
    )
    start_s = time.perf_counter() - t0
    ctx.spark = spark
    rss = None
    try:
        t0 = time.perf_counter()
        warm_up(spark, nproc)
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        if oracle_thread is not None:
            oracle_thread.join()
            if "digests" not in oracle:
                raise RuntimeError("oracle digests could not be computed")
            wl.oracle = oracle["digests"]
        host = host_record(spark, nproc)
        setup_s = start_s + statistics.median(stage_s) + prepare_s

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer, instrument

            tracer = Tracer(spark)
            ctx.tracer = tracer
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            if tracer:
                with instrument(tracer):
                    res = measure(wl, ctx, args.seconds, tracer)
            else:
                res = measure(wl, ctx, args.seconds)
        decode = wl.decode_probe() if args.trace and hasattr(wl, "decode_probe") else None
    finally:
        stop_session(spark, rss)

    attempted, failed = tally(res["ops"])
    lat = [o["s"] for o in res["ops"]]
    tail = tail_percentile(len(lat))
    figures = workload_figures(wl, res)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "loop": f"closed, 1 client, local[{nproc}]",
        "passes": len(res["passes"]),
        "ops": len(lat),
        "failed_op_ratio": failed / attempted,
        "setup": {"session_start_s": start_s, "stage_s": stage_s,
                  "prepare_s": prepare_s,
                  "oracle_s": oracle.get("s")},
        "tail": {"pct": tail, "value_s": percentile(lat, tail) if tail else None,
                 "samples": len(lat)},
        "op_kinds": {
            k: {"n": len(v), "p50_s": statistics.median(v)}
            for k, v in _by_kind(res["ops"]).items()
        },
        "workload_metrics": figures,
        # not gated: it moved by 10-20% between runs of one workload
        "peak_rss_mb": _metric(rss.peak_kb / 1024, "MB"),
    }
    if args.trace:
        metrics = layer_metrics(tracer, wl, ctx, res, figures, start_s, decode)
        detail["self_s_per_pass"] = self_times(tracer.spans, len(res["passes"]))
        detail["jobs_by_op_kind"] = op_jobs(tracer.spans)
        if args.spans:
            with open(args.spans, "w") as f:
                for span in tracer.spans:
                    f.write(json.dumps(span) + "\n")
    else:
        metrics = end_to_end(res, setup_s)
    bad = [k for k, v in metrics.items()
           if not (NAME_RE.match(k) and UNIT_RE.match(v["unit"]))]
    if bad:
        raise ValueError(f"metric names or units outside the allowed form: {bad}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def _by_kind(ops: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o["kind"], []).append(o["s"])
    return out


if __name__ == "__main__":
    sys.exit(main())
