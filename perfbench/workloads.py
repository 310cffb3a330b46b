"""The three workloads: their inputs, their steps and their checks.

A workload generates its inputs from the run's seed (``generate``),
computes the expected outputs off the clock (``prepare``), opens its
table handles (``handles``) and lists its steps. A step runs against a
``StepContext`` and returns its output; ``check`` compares that output
with the expected one and returns an error message, or ``None`` when it
matches.

- ``relational`` and ``iterative`` steps are registry query keys. Each
  output's value hash (``tests/compare.py`` ``_driver_hash``) must equal
  the hash of the key's DuckDB ``oracle_sql()`` twin on the same files.
- ``climate`` steps are bcdp Ensemble pipelines over NetCDF-3 members.
  Each output is compared with a numpy recomputation on the generated
  arrays: keys exactly, values within ``RTOL``/``ATOL``.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

import gen

RELATIONAL_KEYS = (
    "q_pricing_summary",
    "q_join_agg",
    "q_window_topk",
    "q_tumbling_events",
    "q_dedup_docs",
    "q_anti_join",
    "q_rollup",
    "q_sim_knn",
)
# q_bpe_merges (the same launch-while-building pattern as connected
# components) and q_kmeans stay out: the 48 runs of the benchmark must
# fit its time budget with three warm-up passes per iterative run
ITERATIVE_KEYS = (
    "q_connected_components",
    "q_token_pagerank",
)
# climate outputs are float64 means of float32 inputs; only the
# summation order differs between Spark and numpy
RTOL = 1e-9
ATOL = 1e-9


@dataclass
class Step:
    name: str
    run: Callable
    check: Callable


@dataclass
class StepContext:
    """What a step may touch: the session, the tracer's ``layer`` spans,
    and lists the runner reads back after the step (executed DataFrames
    for plan metrics, files a sink wrote)."""

    spark: object
    layer: Callable
    pass_dir: str
    executed: list = field(default_factory=list)
    sink_dirs: list = field(default_factory=list)


class QueryWorkload:
    """Registry keys checked against their DuckDB oracle twins."""

    keys: tuple[str, ...] = ()

    def __init__(self, work_dir: str, tiny: bool):
        self.data_dir = os.path.join(work_dir, "data")
        self.tiny = tiny
        self.oracle: dict[str, str] = {}
        self.qs = None

    def prepare(self, queries_module) -> None:
        import duckdb

        from tests.compare import _driver_hash

        self.qs = queries_module.queries()
        sql = queries_module.oracle_sql()
        con = duckdb.connect()
        try:
            for path in sorted(glob.glob(os.path.join(self.data_dir, "*.parquet"))):
                name = os.path.basename(path)[: -len(".parquet")]
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            for key in self.keys:
                self.oracle[key] = _driver_hash(con.execute(sql[key]).df())
        finally:
            con.close()

    def handles(self, spark) -> int:
        from bcdp_spark.tables import table

        names = sorted(
            os.path.basename(p)[: -len(".parquet")]
            for p in glob.glob(os.path.join(self.data_dir, "*.parquet"))
        )
        for name in names:
            table(spark, self.data_dir, name)
        return len(names)

    def steps(self) -> list[Step]:
        return [self._step(k) for k in self.keys]

    def _step(self, key: str) -> Step:
        def run(ctx: StepContext):
            with ctx.layer("queries.construct", "construct"):
                df = self.qs[key](ctx.spark, self.data_dir)
            with ctx.layer("queries.exec", "exec"):
                pdf = df.toPandas()
            ctx.executed.append(df)
            return pdf

        def check(pdf) -> str | None:
            from tests.compare import _driver_hash

            if _driver_hash(pdf) != self.oracle[key]:
                return f"{key}: value hash differs from the DuckDB oracle"
            return None

        return Step(key, run, check)


class Relational(QueryWorkload):
    """The eight bench.py headline keys on a seeded star schema."""

    keys = RELATIONAL_KEYS
    warmup = 6

    def generate(self, rng) -> dict:
        rec = gen.star_schema(rng, self.data_dir, 20_000 if self.tiny else 300_000)
        rec["cells"] = 0
        return rec


class Iterative(QueryWorkload):
    """Driver-loop operators on a seeded document corpus."""

    keys = ITERATIVE_KEYS
    warmup = 3

    def generate(self, rng) -> dict:
        rec = gen.corpus(rng, self.data_dir, 120 if self.tiny else 500)
        rec["cells"] = 0
        return rec


class Climate:
    """bcdp's Ensemble pipeline on seeded NetCDF-3 members."""

    warmup = 1

    def __init__(self, work_dir: str, tiny: bool):
        self.nc_dir = os.path.join(work_dir, "members")
        self.tiny = tiny
        self.expected: dict[str, pd.DataFrame] = {}

    def generate(self, rng) -> dict:
        shape = (2, 40, 8, 16) if self.tiny else (4, 90, 24, 48)
        self.inputs = gen.netcdf_members(rng, self.nc_dir, *shape)
        lat_lo = float(rng.uniform(-60.0, 0.0))
        lon_lo = float(rng.uniform(0.0, 150.0))
        # seeded positions, fixed sizes: the rows and Zarr chunks a pass
        # touches do not vary with the seed (a window of three chunk
        # lengths that never starts on a chunk boundary spans 4 chunks)
        self.time_chunk = max(shape[1] // 6, 1)
        t0 = int(rng.integers(1, self.time_chunk)) + self.time_chunk * int(
            rng.integers(0, 3))
        t1 = t0 + 3 * self.time_chunk - 1
        times = pd.DatetimeIndex(self.inputs["times"])
        self.bounds = {
            "lat_bnds": (lat_lo, lat_lo + 60.0),
            "lon_bnds": (lon_lo, lon_lo + 180.0),
            "time_bnds": (str(times[t0].date()), str(times[t1].date())),
        }
        self.res = (15.0, 30.0)
        return {
            "rows": {"cells": self.inputs["cells"]},
            "bytes": self.inputs["bytes"],
            "cells": self.inputs["cells"],
            "shape": list(shape),
        }

    @property
    def members(self) -> str:
        return os.path.join(self.nc_dir, "*.nc")

    def handles(self, spark) -> int:
        return 0

    # -- numpy reference -------------------------------------------------
    def prepare(self, queries_module) -> None:
        lat, lon = self.inputs["lat"], self.inputs["lon"]
        times = self.inputs["times"]
        months = pd.DatetimeIndex(times).month.to_numpy()
        b = self.bounds
        tsec = times.astype("datetime64[D]")
        tm = (tsec >= np.datetime64(b["time_bnds"][0])) & (
            tsec <= np.datetime64(b["time_bnds"][1])
        )
        ym = (lat >= b["lat_bnds"][0]) & (lat <= b["lat_bnds"][1])
        xm = (lon >= b["lon_bnds"][0]) & (lon <= b["lon_bnds"][1])
        ib = np.floor(lat / self.res[0])
        jb = np.floor(lon / self.res[1])
        sub, reg = [], []
        for name, data in sorted(self.inputs["data"].items()):
            cube = data[tm][:, ym][:, :, xm]
            sub.append(_clim(name, cube, months[tm], lat[ym], lon[xm]))
            for bi in np.unique(ib):
                for bj in np.unique(jb):
                    cells = data[:, ib == bi][:, :, jb == bj]
                    per_t = cells.mean(axis=(1, 2))
                    for mo in np.unique(months):
                        reg.append((name, mo, (bi + 0.5) * self.res[0],
                                    (bj + 0.5) * self.res[1],
                                    per_t[months == mo].mean()))
        self.expected = {
            "subset_climatology": pd.concat(sub, ignore_index=True),
            "regrid_climatology": pd.DataFrame(
                reg, columns=["name", "month", "lat", "lon", "clim"]
            ),
        }
        self.expected["zarr_roundtrip"] = self.expected["subset_climatology"]

    # -- steps -----------------------------------------------------------
    def steps(self) -> list[Step]:
        from bcdp_spark.ensemble import Bounds, Ensemble

        def load(ctx, **bounds):
            with ctx.layer("ensemble.from_netcdf", "construct"):
                return Ensemble.from_netcdf(ctx.spark, self.members, **bounds)

        def fetch(ctx, df, span="exec", group="exec"):
            with ctx.layer(span, group):
                pdf = df.toPandas()
            ctx.executed.append(df)
            return pdf

        def subset_climatology(ctx):
            ens = load(ctx, **self.bounds)
            with ctx.layer("ensemble.subset", "construct"):
                ens = ens.subset(Bounds(**self.bounds))
            with ctx.layer("ensemble.climatology", "construct"):
                clim = ens.climatology()
            return fetch(ctx, clim)

        def regrid_climatology(ctx):
            ens = load(ctx)
            with ctx.layer("ensemble.regrid", "construct"):
                ens = ens.regrid(*self.res)
            with ctx.layer("ensemble.climatology", "construct"):
                clim = ens.climatology()
            return fetch(ctx, clim)

        def zarr_roundtrip(ctx):
            out_dir = os.path.join(ctx.pass_dir, "zarr")
            ens = load(ctx)
            with ctx.layer("ensemble.to_zarr", "write"):
                written = ens.to_zarr(out_dir, time_chunk=self.time_chunk)
                rows = fetch(ctx, written, "sinks.write", "write")
            ctx.sink_dirs.append((out_dir, int(rows["n_rows"].sum())))
            with ctx.layer("ensemble.from_zarr", "construct"):
                back = Ensemble.from_zarr(
                    ctx.spark, os.path.join(out_dir, "*.zarr"), **self.bounds
                )
            with ctx.layer("ensemble.climatology", "construct"):
                clim = back.climatology()
            return fetch(ctx, clim)

        fns = (subset_climatology, regrid_climatology, zarr_roundtrip)
        return [Step(f.__name__, f, self._checker(f.__name__)) for f in fns]

    def _checker(self, name: str):
        def check(pdf) -> str | None:
            exp = self.expected[name]
            got = pdf.copy()
            if "time" in got.columns:
                got["time"] = got["time"].astype("datetime64[us]").astype(np.int64)
            return _frames_close(name, got, exp)

        return check


def _clim(name, cube, months, lat, lon) -> pd.DataFrame:
    frames = []
    for mo in np.unique(months):
        mean = cube[months == mo].mean(axis=0)
        la, lo = np.meshgrid(lat, lon, indexing="ij")
        frames.append(pd.DataFrame({
            "name": name, "month": mo, "lat": la.ravel(), "lon": lo.ravel(),
            "clim": mean.ravel(),
        }))
    return pd.concat(frames, ignore_index=True)


def _frames_close(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Key columns (strings and integers, and the lat/lon coordinates,
    which both sides compute with the same float operations) must match
    exactly; float value columns within RTOL/ATOL."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"{name}: {len(got)} rows, expected {len(exp)}"
    vals = [c for c in exp.columns
            if exp[c].dtype.kind == "f" and c not in ("lat", "lon")]
    keys = [c for c in exp.columns if c not in vals]
    g = got.sort_values(keys).reset_index(drop=True)
    e = exp.sort_values(keys).reset_index(drop=True)
    for c in keys:
        if not np.array_equal(g[c].to_numpy(), e[c].to_numpy().astype(g[c].dtype)):
            return f"{name}: key column {c} differs"
    for c in vals:
        if not np.allclose(g[c].to_numpy(float), e[c].to_numpy(float),
                           rtol=RTOL, atol=ATOL):
            return f"{name}: values of {c} differ beyond rtol={RTOL}"
    return None


WORKLOADS = {"relational": Relational, "climate": Climate, "iterative": Iterative}
