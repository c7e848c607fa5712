"""The benchmark's workloads.

Each workload stages seeded inputs, then yields passes of ops.  An op is
one call into a public function of the program plus the action that runs
it; its ``check`` compares the result with values computed independently
from the generated inputs (numpy for the gridded workloads, the catalog's
DuckDB oracles for the corpus workload).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from perfbench import gen

DAY = dt.timedelta(days=1)
KEYS = ["time", "latitude", "longitude"]


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


class Ctx:
    """What a workload needs from the run: session, work dir, seed and
    the span factory (a no-op when the run is not traced)."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        #: share of the table's files each point read scans (from the
        #: manifest's pruning, recorded when the read is checked)
        self.files_scanned: list[float] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def _manager_cls():
    from gridded_etl_tools_spark.manager import DatasetManager

    class ChirpsUS(DatasetManager):
        """CHIRPS-shaped daily precipitation over the contiguous US."""

        dataset_name = "perfbench_chirps_us_p25"
        data_var = "precip"
        unit = "mm"
        missing_value = gen.SENTINEL
        spatial_resolution = 0.25
        expected_nan_frequency = gen.SENTINEL_SHARE
        time_epoch = gen.EPOCH
        time_unit = "days"

    return ChirpsUS


def _expected(field: np.ndarray) -> np.ndarray:
    """A generated field as the table should hold it: sentinels as NaN."""
    out = field.astype("f8")
    out[field == gen.SENTINEL] = np.nan
    return out


def _same(got, want: float, tol: float = 0.0) -> bool:
    if got is None or want != want:
        return got is None and want != want
    return abs(got - want) <= tol * max(1.0, abs(want))


def _lat_i(lat: float) -> int:
    return int(round((lat - gen.LATS[0]) / 0.25))


def _lon_j(lon: float) -> int:
    return int(round(((lon + 360.0) - gen.LONS[0]) / 0.25))


def _point_read_op(ctx: Ctx, table, grid: dict[int, np.ndarray], day: int,
                   i: int, j: int) -> Op:
    lat, lon = float(gen.LATS[i]), gen.std_lon(float(gen.LONS[j]))
    t = gen.day_time(day)
    where = {"latitude": (lat, lat), "longitude": (lon, lon)}

    def run():
        df = table.read(ctx.spark, t, t, where=where)
        with ctx.span("sinks.table.exec"):
            return df.collect()

    def check(rows):
        scanned, total = table.pruned_file_count(t, t, where=where)
        ctx.files_scanned.append(scanned / total)
        return len(rows) == 1 and _same(rows[0]["precip"], grid[day][i, j])

    return Op("point_read", run, check)


class EtlIngest:
    """Backfill, append, insert-region repair and audit of a fresh table,
    then seeded reads and climate operators over it."""

    name = "etl_ingest"
    writes = True
    BACKFILL_DAYS = 20
    APPEND_DAYS = 5
    REPAIR_DAYS = 2
    POINT_READS = 16
    BBOX_READS = 2

    def __init__(self, ctx: Ctx, smoke: bool = False):
        self.ctx = ctx
        if smoke:
            self.BACKFILL_DAYS, self.APPEND_DAYS, self.REPAIR_DAYS = 4, 2, 1
            self.POINT_READS, self.BBOX_READS = 2, 1
        rng = np.random.default_rng([ctx.seed, 7])
        s0 = gen.START_DAY
        self.backfill = range(s0, s0 + self.BACKFILL_DAYS)
        self.append = range(s0 + self.BACKFILL_DAYS,
                            s0 + self.BACKFILL_DAYS + self.APPEND_DAYS)
        r0 = s0 + int(rng.integers(0, self.BACKFILL_DAYS - self.REPAIR_DAYS + 1))
        self.repair = range(r0, r0 + self.REPAIR_DAYS)
        self.live_cells = (self.BACKFILL_DAYS + self.APPEND_DAYS) * gen.CELLS_PER_DAY
        self.published_cells = (
            self.BACKFILL_DAYS + self.APPEND_DAYS + self.REPAIR_DAYS
        ) * gen.CELLS_PER_DAY

    def stage(self, rep: int) -> None:
        root = os.path.join(self.ctx.work, f"raw{rep}")
        shutil.rmtree(root, ignore_errors=True)
        seed = self.ctx.seed
        grid = gen.write_day_files(f"{root}/backfill", seed, self.backfill)
        grid.update(gen.write_day_files(f"{root}/append", seed, self.append))
        grid.update(gen.write_day_files(f"{root}/repair", seed, self.repair,
                                        repair=True))
        truth = f"{root}/truth"
        os.makedirs(truth)
        for sub in ("backfill", "append", "repair"):
            for f in sorted(os.listdir(f"{root}/{sub}")):
                shutil.copyfile(f"{root}/{sub}/{f}", f"{truth}/{f}")
        self.raw = root
        self.grid = {d: _expected(a) for d, a in grid.items()}

    def prepare(self) -> None:
        self.Manager = _manager_cls()

    def decode_probe(self, reps: int = 3) -> dict:
        """Standalone decode of the backfill files into a noop sink."""
        from gridded_etl_tools_spark.sources.scan import scan_gridded

        raw = f"{self.raw}/backfill"
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            scan_gridded(self.ctx.spark, raw, "precip").write.format("noop").mode(
                "overwrite").save()
            times.append(time.perf_counter() - t0)
        return {
            "s": statistics.median(times),
            "cells": self.BACKFILL_DAYS * gen.CELLS_PER_DAY,
            "bytes": sum(os.path.getsize(os.path.join(raw, f)) for f in os.listdir(raw)),
        }

    def pass_ops(self, p: int) -> list[Op]:
        from pyspark.sql import types as T

        from gridded_etl_tools_spark.operators import qc

        ctx, raw = self.ctx, self.raw
        m = self.Manager(os.path.join(ctx.work, f"table{p}"))
        self.table = m.table

        def backfill():
            df = m.transform(ctx.spark, f"{raw}/backfill")
            qc.pre_parse_quality_check(
                df, "precip", expected_dtype=T.DoubleType(), value_bounds=(0.0, 2000.0)
            )
            bad = qc.nan_frequency_violations(df, "time", "precip", gen.SENTINEL_SHARE)
            return bad, m.parse(df, expected_delta=DAY)

        def audit():
            source = m.transform(ctx.spark, f"{raw}/truth")
            bad = qc.written_value_mismatches(m.table.read(ctx.spark), source, KEYS, "precip")
            with ctx.span("operators.qc.exec"):
                return bad.count(), m.table.read(ctx.spark).count()

        days = sorted(self.grid)
        reads = GridReads(ctx, m.table, days, np.stack([self.grid[d] for d in days]))
        ops = [
            Op("backfill", backfill,
               lambda r: r[0] == [] and r[1]["mode"] == "initial"),
            Op("append",
               lambda: m.run_etl(ctx.spark, f"{raw}/append", expected_delta=DAY),
               lambda r: (r["n_appended_times"], r["n_inserted_times"])
               == (self.APPEND_DAYS, 0)),
            Op("repair",
               lambda: m.run_etl(ctx.spark, f"{raw}/repair", expected_delta=DAY),
               lambda r: (r["n_appended_times"], r["n_inserted_times"])
               == (0, self.REPAIR_DAYS)),
            Op("audit", audit, lambda r: r == (0, self.live_cells)),
        ]
        rng = np.random.default_rng([ctx.seed, 11, p])
        return ops + reads.ops(rng, self.POINT_READS, self.BBOX_READS)


def _bbox(rng, n_lat: int, n_lon: int) -> tuple[slice, slice, dict]:
    i0 = int(rng.integers(0, gen.LATS.size - n_lat + 1))
    j0 = int(rng.integers(0, gen.LONS.size - n_lon + 1))
    si, sj = slice(i0, i0 + n_lat), slice(j0, j0 + n_lon)
    lats = gen.LATS[si]
    lons = [gen.std_lon(float(x)) for x in gen.LONS[sj]]
    return si, sj, {
        "latitude": (float(lats[0]), float(lats[-1])),
        "longitude": (lons[0], lons[-1]),
    }


def _spells(events: np.ndarray, min_len: int) -> list[tuple[int, int]]:
    """(start index, length) of runs of True at least ``min_len`` long."""
    out, start = [], None
    for k, e in enumerate(list(events) + [False]):
        if e and start is None:
            start = k
        elif not e and start is not None:
            if k - start >= min_len:
                out.append((start, k - start))
            start = None
    return out


class GridReads:
    """Read-only ops over a published table whose expected contents are
    ``cube`` (day, latitude, longitude) for the contiguous ``days``."""

    def __init__(self, ctx: Ctx, table, days: list[int], cube: np.ndarray):
        self.ctx, self.table, self.cube = ctx, table, cube
        self.days = days
        self.n_days = len(days)
        self.win = min(7, self.n_days)

    def _read(self, lo: int, hi: int, where: dict):
        return self.table.read(
            self.ctx.spark, gen.day_time(self.days[lo]),
            gen.day_time(self.days[hi]), where=where,
        )

    def ops(self, rng, point_reads: int, bbox_reads: int) -> list[Op]:
        """Point reads, bbox reads and one op of each climate operator,
        in a seeded order."""
        ops = []
        for _ in range(point_reads):
            k = int(rng.integers(0, self.n_days))
            i, j = int(rng.integers(0, gen.LATS.size)), int(rng.integers(0, gen.LONS.size))
            ops.append(_point_read_op(
                self.ctx, self.table, {self.days[k]: self.cube[k]},
                self.days[k], i, j,
            ))
        for _ in range(bbox_reads):
            ops.append(self._bbox_read(rng))
        ops += [
            self._monthly(rng), self._anomaly(rng), self._rolling(rng),
            self._coarsen(rng), self._spells(rng),
        ]
        order = rng.permutation(len(ops))
        return [ops[k] for k in order]

    def _bbox_read(self, rng) -> Op:
        si, sj, where = _bbox(rng, 12, 12)
        lo = int(rng.integers(0, self.n_days - self.win + 1))
        want = self.cube[lo:lo + self.win, si, sj]

        def run():
            df = self._read(lo, lo + self.win - 1, where)
            with self.ctx.span("sinks.table.exec"):
                return [r["precip"] for r in df.collect()]

        def check(vals):
            got = np.array([np.nan if v is None else v for v in vals])
            return (
                got.size == want.size
                and np.isnan(got).sum() == np.isnan(want).sum()
                and _same(float(np.nansum(got)), float(np.nansum(want)), 1e-9)
            )

        return Op("bbox_read", run, check)

    def _monthly(self, rng) -> Op:
        from pyspark.sql import functions as F

        from gridded_etl_tools_spark.operators import aggregations

        si, sj, where = _bbox(rng, 40, 40)
        sub = self.cube[:, si, sj]
        months = np.array([gen.day_time(d).month for d in self.days])

        def run():
            df = self._read(0, self.n_days - 1, where).withColumn(
                "month", F.month("time"))
            out = aggregations.dimension_reduce(
                df, ["month"], "precip", ["mean", "max", "count"])
            with self.ctx.span("operators.aggregations.exec"):
                return {r["month"]: r for r in out.collect()}

        def check(rows):
            for mo in np.unique(months):
                v = sub[months == mo]
                r = rows.get(int(mo))
                if r is None or r["count_precip"] != int(np.isfinite(v).sum()):
                    return False
                if not (_same(r["mean_precip"], float(np.nanmean(v)), 1e-9)
                        and _same(r["max_precip"], float(np.nanmax(v)))):
                    return False
            return len(rows) == len(np.unique(months))

        return Op("dimension_reduce", run, check)

    def _anomaly(self, rng) -> Op:
        from pyspark.sql import functions as F

        from gridded_etl_tools_spark.operators import aggregations

        si, sj, where = _bbox(rng, 6, 6)
        sub = self.cube[:, si, sj]
        dows = np.array([gen.day_time(d).isoweekday() % 7 + 1 for d in self.days])

        def run():
            df = self._read(0, self.n_days - 1, where).withColumn(
                "dow", F.dayofweek("time"))
            out = aggregations.climatology_anomaly(
                df, ["dow"], ["latitude", "longitude"], "precip")
            with self.ctx.span("operators.aggregations.exec"):
                return [(r["time"], r["latitude"], r["longitude"], r["anomaly"])
                        for r in out.collect()]

        def check(rows):
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                clim = {
                    dw: np.round(np.nanmean(sub[dows == dw], axis=0), 6)
                    for dw in np.unique(dows)
                }
            n = 0
            for t, lat, lon, an in rows:
                k = (t.date() - gen.day_time(self.days[0]).date()).days
                i, j = _lat_i(lat) - si.start, _lon_j(lon) - sj.start
                exp = sub[k, i, j] - clim[dows[k]][i, j]
                if not _same(an, round(float(exp), 6) if exp == exp else exp, 1e-6):
                    return False
                n += 1
            return n == sub.size

        return Op("climatology_anomaly", run, check)

    def _rolling(self, rng) -> Op:
        from gridded_etl_tools_spark.operators import aggregations

        si, sj, where = _bbox(rng, 5, 5)
        sub = self.cube[:, si, sj]
        win = 5

        def run():
            out = aggregations.rolling_aggregate(
                self._read(0, self.n_days - 1, where),
                ["latitude", "longitude"], "time", "precip", win)
            with self.ctx.span("operators.aggregations.exec"):
                return [(r["time"], r["latitude"], r["longitude"],
                         r["rolling_mean_precip"]) for r in out.collect()]

        def check(rows):
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                want = np.stack([
                    np.nanmean(sub[max(0, k - win + 1):k + 1], axis=0)
                    for k in range(self.n_days)
                ])
            for t, lat, lon, v in rows:
                k = (t.date() - gen.day_time(self.days[0]).date()).days
                if not _same(v, want[k, _lat_i(lat) - si.start,
                                     _lon_j(lon) - sj.start], 1e-9):
                    return False
            return len(rows) == sub.size

        return Op("rolling_aggregate", run, check)

    def _coarsen(self, rng) -> Op:
        from gridded_etl_tools_spark.operators import regrid

        lo = int(rng.integers(0, self.n_days - self.win + 1))
        week = self.cube[lo:lo + self.win]

        def run():
            out = regrid.coarsen(
                self._read(lo, lo + self.win - 1, {}),
                {"latitude": (24.0, 1.0), "longitude": (-125.0, 1.0)},
                value_col="precip", aggs=("mean",))
            with self.ctx.span("operators.regrid.exec"):
                return {(r["latitude"], r["longitude"]): r["mean_precip"]
                        for r in out.collect()}

        def check(cells):
            n = 0
            lat_edges = np.floor(gen.LATS - 24.0)
            lon_edges = np.floor(np.array([gen.std_lon(float(x)) for x in gen.LONS]) + 125.0)
            for a in np.unique(lat_edges):
                for b in np.unique(lon_edges):
                    block = week[:, lat_edges == a][:, :, lon_edges == b]
                    got = cells.get((round(24.0 + a, 6), round(-125.0 + b, 6)), "missing")
                    if got == "missing":
                        return False
                    if np.isfinite(block).any():
                        if not _same(got, float(np.nanmean(block)), 1e-9):
                            return False
                    elif got is not None:
                        return False
                    n += 1
            return n == len(cells)

        return Op("coarsen", run, check)

    def _spells(self, rng) -> Op:
        from pyspark.sql import functions as F

        from gridded_etl_tools_spark.operators import climate

        si, sj, where = _bbox(rng, 4, 4)
        sub = self.cube[:, si, sj]
        day0 = gen.day_time(self.days[0]).date()

        def run():
            daily = self._read(0, self.n_days - 1, where).select(
                F.concat_ws("/", "latitude", "longitude").alias("station"),
                F.to_date("time").alias("day"), "precip",
            )
            out = climate.threshold_spells(daily, F.col("precip") > 1.0, min_length=2)
            with self.ctx.span("operators.climate.exec"):
                return sorted(
                    (r["station"], (r["spell_start"] - day0).days, r["spell_days"])
                    for r in out.collect()
                )

        def check(rows):
            want = []
            for i in range(sub.shape[1]):
                for j in range(sub.shape[2]):
                    station = (f"{gen.LATS[si][i]}/"
                               f"{gen.std_lon(float(gen.LONS[sj][j]))}")
                    ev = np.nan_to_num(sub[:, i, j], nan=0.0) > 1.0
                    want += [(station, s, n) for s, n in _spells(ev, 2)]
            return rows == sorted(want)

        return Op("threshold_spells", run, check)


#: catalog rows of the corpus workload, in the order every pass runs them.
#: Each row's first run in a session still pays some one-off JVM work, and
#: the first rows of a pass pay more; a fixed order keeps that on the same
#: rows in every run, where a shuffled order moved op_p90_s by about 30%.
LLM_ROWS = (
    "kmeans_centroids", "pq_ann_topk", "ivf_ann_topk", "minhash_lsh_candidates",
    "semantic_dedup_flags", "hybrid_rrf_search_batch", "tfidf_top_terms",
    "bm25_search_scores", "pii_scrub", "corpus_prep_end_to_end",
    "training_mix_end_to_end", "cosine_topk",
)


def table_digest(rows, columns) -> tuple[int, str]:
    """Row count and the repo's oracle value hash (order-insensitive,
    columns by name) from ``scripts/verify_oracle.py``."""
    scripts = os.path.normpath(
        os.path.join(os.path.dirname(gen.__file__), "..", "scripts"))
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from verify_oracle import table_digest as digest

    return len(rows), digest(rows, columns)


class LlmCorpus:
    """Catalog rows of the LLM-data operators over a generated corpus."""

    name = "llm_corpus"

    def __init__(self, ctx: Ctx, smoke: bool = False):
        self.ctx = ctx
        self.rows = (
            ("kmeans_centroids", "minhash_lsh_candidates", "pii_scrub")
            if smoke else LLM_ROWS
        )
        self.size = (500, 200) if smoke else (1000, 400)

    def stage(self, rep: int) -> None:
        self.data = os.path.join(self.ctx.work, f"corpus{rep}")
        shutil.rmtree(self.data, ignore_errors=True)
        gen.write_corpus(self.data, self.ctx.seed, *self.size)

    def expected(self) -> dict[str, tuple[int, str]]:
        """Oracle digests from DuckDB over the staged corpus."""
        import duckdb

        from gridded_etl_tools_spark.plans.catalog import ORACLES

        con = duckdb.connect()
        try:
            con.sql("SET threads TO 2")
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            out = {}
            for name in self.rows:
                rel = con.sql(ORACLES[name])
                out[name] = table_digest(rel.fetchall(), [d[0] for d in rel.description])
            return out
        finally:
            con.close()

    def prepare(self) -> None:
        from gridded_etl_tools_spark.plans.catalog import QUERIES

        # the first catalog query of a session pays seconds of one-off
        # JVM warm-up; without this it lands on the first row of the pass
        QUERIES["cosine_topk"](self.ctx.spark, self.data).collect()

    def pass_ops(self, p: int) -> list[Op]:
        from gridded_etl_tools_spark.plans.catalog import QUERIES

        ops = []
        for name in self.rows:

            def run(name=name):
                with self.ctx.span("plans.build"):
                    df = QUERIES[name](self.ctx.spark, self.data)
                with self.ctx.span("plans.exec"):
                    return df.columns, df.collect()

            ops.append(Op(name, run, lambda r, name=name:
                          table_digest(r[1], r[0]) == self.oracle[name]))
        return ops


WORKLOADS = {w.name: w for w in (EtlIngest, LlmCorpus)}
