"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes.  The program under test only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

#: CHIRPS-US 0.25 degree grid: 104 latitude rows x 236 longitude columns
#: (24,544 cells per day), longitudes in the provider's 0-360 form.
LATS = 24.125 + 0.25 * np.arange(104)
LONS = 235.125 + 0.25 * np.arange(236)
CELLS_PER_DAY = LATS.size * LONS.size
SENTINEL = -9999.0
SENTINEL_SHARE = 0.02
#: CF time axis of the generated files ("days since 1981-01-01", as CHIRPS)
EPOCH = dt.datetime(1981, 1, 1)
#: first generated day; tables span the December/January month boundary
START_DAY = (dt.datetime(2019, 12, 20) - EPOCH).days


def day_grid(seed: int, day: int, repair: bool = False) -> np.ndarray:
    """Precipitation-like float32 field for one day.

    Keyed on (seed, day) so a day's values do not depend on which other
    days were generated with it.  A first-release field has about 2%
    sentinels; a ``repair`` (corrected re-release) field has none."""
    rng = np.random.default_rng([seed, day, int(repair)])
    shape = (LATS.size, LONS.size)
    wet = rng.random(shape) < 0.4
    data = np.where(wet, rng.gamma(0.8, 9.0, shape), 0.0).astype("f4")
    if not repair:
        data[rng.random(shape) < SENTINEL_SHARE] = SENTINEL
    return data


def write_day_files(out_dir: str, seed: int, days: range,
                    repair: bool = False) -> dict[int, np.ndarray]:
    """One NetCDF3 file per day into ``out_dir``; returns {day: field}."""
    from gridded_etl_tools_spark.sources import netcdf3 as nc

    os.makedirs(out_dir, exist_ok=True)
    fields = {}
    for day in days:
        data = day_grid(seed, day, repair)
        fields[day] = data
        nc.write_netcdf3(
            os.path.join(out_dir, f"chirps_us_p25_{day:06d}.nc"),
            dims={"time": None, "latitude": LATS.size, "longitude": LONS.size},
            variables={
                "latitude": (("latitude",), nc.NC_DOUBLE, {}, LATS),
                "longitude": (("longitude",), nc.NC_DOUBLE, {}, LONS),
                "time": (
                    ("time",), nc.NC_DOUBLE,
                    {"units": (nc.NC_CHAR, "days since 1981-01-01")},
                    np.array([float(day)]),
                ),
                "precip": (
                    ("time", "latitude", "longitude"), nc.NC_FLOAT,
                    {"_FillValue": (nc.NC_FLOAT, SENTINEL)}, data[None],
                ),
            },
        )
    return fields


def day_time(day: int) -> dt.datetime:
    return EPOCH + dt.timedelta(days=day)


def std_lon(lon: float) -> float:
    """The ingest's longitude standardization to [-180, 180)."""
    return round(((lon + 180.0) % 360.0) - 180.0, 5)


_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                 dim: int = 64) -> None:
    """``documents`` and ``embeddings`` parquet tables shaped like the
    catalog's scale-factor test data: 5% of documents are another
    document's text plus " dup"; embeddings are unit vectors with 10
    labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 101, n_docs)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lengths]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))].removesuffix(" dup") + " dup"
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    vecs = rng.standard_normal((n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("f4")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
