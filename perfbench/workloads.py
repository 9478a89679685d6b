"""The cube workloads: one timed run each, its output check, and the
traced variant that splits the run into layers by cumulative prefixes.

Every cube workload reads its seeded parquet table (``inputs.py``), builds
a cube on the view ``inputs.view`` pins (bench.py's flagship view:
1000x800x12 monthly, mean, near) and checks the result against the
benchmark's own reference cube (``reference.py``).

  cube_jpeg        baseline-JPEG payloads; build_cube(strategy="auto"),
                   which picks the decode-at-scan path (cell_long), then
                   Cube.reduce_time([mean, count])
  cube_join_write  PNG/lossy payloads; build_cube(strategy="chunk_kernel",
                   method="hex"): st_join, then the grouped chunk kernel,
                   which shuffles image bytes onto their (hot) chunks;
                   Cube.write_chunks to a local sink, read back with
                   pyarrow

The query pass of the traced run is in ``queries.py``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

BANDS = ("B1", "B2")
REDUCERS = [("mean", "B1"), ("count", "B1")]
ATOL = 1e-9          # tests/oracle_np.assert_dense_equal's tolerance
DECODE_SAMPLE = 200  # payloads in the in-process decode/warp probe


class CheckFailed(Exception):
    """The workload's output differs from the oracle."""


# ----------------------------------------------------------------- checks

def _sorted_keys(pdf, cols):
    pdf = pdf.sort_values(cols, kind="stable")
    return pdf, pdf[cols].to_numpy(np.int64)


def check_cells(pdf, oracle: dict) -> int:
    """Cube cells (it, iy, ix, B1, B2) against the sparse oracle cube. A
    row whose bands are all null is a missing cell, as in collect_dense."""
    pdf = pdf[pdf["B1"].notna() | pdf["B2"].notna()]
    pdf, keys = _sorted_keys(pdf, ["it", "iy", "ix"])
    want = np.stack([oracle["it"], oracle["iy"], oracle["ix"]], axis=1)
    if keys.shape != want.shape or (keys != want).any():
        raise CheckFailed(f"cell set differs: {len(keys)} cells, oracle {len(want)}")
    for b in BANDS:
        got = pdf[b].to_numpy(np.float64, na_value=np.nan)
        exp = oracle[b]
        fin = np.isfinite(exp)
        if (np.isfinite(got) != fin).any():
            raise CheckFailed(f"{b}: null pattern differs from the oracle")
        if not np.allclose(got[fin], exp[fin], rtol=0, atol=ATOL):
            raise CheckFailed(f"{b}: max error {np.abs(got[fin] - exp[fin]).max()}")
    return len(pdf)


def reduced_oracle(oracle: dict, nx: int) -> dict:
    """reduce_time([mean B1, count B1]) of the oracle cube, per (iy, ix)."""
    fin = np.isfinite(oracle["B1"])
    key = oracle["iy"][fin].astype(np.int64) * nx + oracle["ix"][fin]
    uk, inv = np.unique(key, return_inverse=True)
    cnt = np.bincount(inv)
    return {"iy": uk // nx, "ix": uk % nx, "count": cnt,
            "mean": np.bincount(inv, weights=oracle["B1"][fin]) / cnt}


def check_reduced(pdf, want: dict) -> int:
    if (pdf["it"] != 0).any():
        raise CheckFailed("reduce_time left it != 0")
    empty = pdf["B1_count"] == 0
    if pdf.loc[empty, "B1_mean"].notna().any():
        raise CheckFailed("mean without values")
    pdf, keys = _sorted_keys(pdf[~empty], ["iy", "ix"])
    exp_keys = np.stack([want["iy"], want["ix"]], axis=1)
    if keys.shape != exp_keys.shape or (keys != exp_keys).any():
        raise CheckFailed(f"pixel set differs: {len(keys)} pixels, oracle {len(exp_keys)}")
    if (pdf["B1_count"].to_numpy(np.int64) != want["count"]).any():
        raise CheckFailed("B1_count differs from the oracle")
    got = pdf["B1_mean"].to_numpy(np.float64, na_value=np.nan)
    if not np.allclose(got, want["mean"], rtol=0, atol=ATOL):
        raise CheckFailed(f"B1_mean: max error {np.nanmax(np.abs(got - want['mean']))}")
    return len(pdf)


# -------------------------------------------------------------- workloads

def _noop(df, name: str, *extra) -> dict:
    """Run ``df`` to the no-op sink; its row count (and ``extra``
    aggregates) come from an Observation, which adds no job."""
    from pyspark.sql import Observation, functions as F

    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n"), *extra).write.format("noop") \
        .mode("overwrite").save()
    return obs.get


class Workload:
    """A pipeline over one seeded table: ``build`` makes the cube,
    ``finish`` runs the last layer and checks the output."""

    name = kind = ""
    size = 0             # images in the table
    build_kw: dict = {}
    joins = False
    traces_queries = False   # the traced run also traces the query pass

    def __init__(self, spark, inputs, work_dir: str):
        from perfbench.inputs import view

        self.spark = spark
        self.inputs = inputs
        self.view = view()
        self.work_dir = work_dir

    @classmethod
    def prepare(cls, cache_dir: str, seed: int, procs: int):
        """The seeded table and its reference answer, made or reused."""
        from perfbench.inputs import prepare

        return prepare(cache_dir, cls.kind, seed, cls.size, procs)

    def images(self):
        return self.spark.read.parquet(self.inputs.path)

    def build(self):
        from gdalcubes_cpp_spark.operators.build import build_cube

        return build_cube(self.images(), self.view, bands=BANDS, **self.build_kw)

    def finish(self, cube) -> int:
        raise NotImplementedError

    def run(self) -> int:
        """One run from the input table to a checked result; returns rows."""
        return self.finish(self.build())

    def clean(self) -> None:
        """Remove what the runs left in the work directory."""

    def sink_bytes(self) -> int:
        return 0

    def layer_metrics(self, tr, ev, counts: dict, untraced_wall: float) -> dict:
        """The per-layer table: self times from successive prefixes,
        counts from Observations, runtime and Python-boundary counters
        from the event log of the full traced run."""
        from perfbench import inputs as inp

        d = tr.duration
        n = self.inputs.n
        joins = self.joins
        before_build = d("st_join") if joins else d("scan")
        full = d("result") - d("result.call")
        last = full - d("build_cube")
        pairs = counts.get("st_join.pairs", 0)
        # the optimizer folds st_join's residual predicate into the join
        # node, so its output-row metric equals the pairs; the candidates
        # are the (image, cover cell) probe rows the image-side explode
        # feeds the join
        cand = ev.probe_rows_in("st_join") if joins else 0.0
        decode_us, warp_us = decode_and_warp_us(
            inp.payload_sample(self.inputs, DECODE_SAMPLE), self.view)
        m = {
            "scan.s": d("scan"), "scan.bytes": self.inputs.table_bytes(),
            "scan.payload_bytes": counts["scan.payload_bytes"],
            "scan.images": counts["scan.images"],
            "codecs.decode_us_per_image": decode_us,
            "build.warp_us_per_image": warp_us,
            "build_cube.call_s": d("build_cube.call"),
            "build_cube.s": d("build_cube") - before_build,
            "build_cube.cells": counts["build_cube.cells"],
            "build_cube.cells_per_image": counts["build_cube.cells"] / n,
            "st_join.call_s": d("st_join.call"),
            "st_join.s": d("st_join") - d("scan") if joins else 0.0,
            "st_join.pairs": pairs, "st_join.candidate_pairs": cand,
            "st_join.pair_yield": pairs / cand if cand else 0.0,
            "reduce_time.s": 0.0 if joins else last,
            "write_chunks.s": last if joins else 0.0,
            "write_chunks.bytes": self.sink_bytes(),
            "result.rows": counts["result.rows"],
            "trace.wall_s": d("result"),
            "trace.overhead_s": d("result") - untraced_wall,
        }
        m.update(ev.runtime(tr.under("result")))
        m.update(ev.python(tr.under("result")))
        return m

    def traced(self, tr) -> dict:
        """Cumulative prefixes, each in its own span: the scan, st_join
        (join workloads), build_cube(...).df, then the full run."""
        from pyspark.sql import functions as F

        out = {}
        with tr.span("scan"):
            # summing the payload lengths makes the scan read every byte
            got = _noop(self.images(), "scan",
                        F.sum(F.length("bytes")).alias("payload"))
            out["scan.images"] = got["n"]
            out["scan.payload_bytes"] = got["payload"]
        if self.joins:
            from gdalcubes_cpp_spark.grid import ChunkGrid
            from gdalcubes_cpp_spark.operators.stjoin import st_join

            with tr.span("st_join.call"):
                joined = st_join(self.images(), ChunkGrid(self.view),
                                 method=self.build_kw["method"])
            with tr.span("st_join"):
                out["st_join.pairs"] = _noop(joined, "st_join")["n"]
        with tr.span("build_cube.call"):
            cube = self.build()
        with tr.span("build_cube"):
            out["build_cube.cells"] = _noop(cube.df, "build_cube")["n"]
        with tr.span("result"):
            with tr.span("result.call"):
                cube = self.build()
            out["result.rows"] = self.finish(cube)
        return out


class CubeJpeg(Workload):
    name = "cube_jpeg"
    kind = "jpeg"
    size = 1000
    traces_queries = True

    def __init__(self, *args):
        super().__init__(*args)
        self.want = reduced_oracle(self.inputs.oracle, self.view.nx)

    def finish(self, cube) -> int:
        """reduce_time, collect, check."""
        return check_reduced(cube.reduce_time(REDUCERS).df.toPandas(), self.want)


class CubeJoinWrite(Workload):
    name = "cube_join_write"
    kind = "synth"
    size = 1000
    build_kw = {"strategy": "chunk_kernel", "method": "hex"}
    joins = True

    def finish(self, cube) -> int:
        """write_chunks to the sink, read its files back with pyarrow (not
        through Spark, so that the check adds no job), check."""
        import pyarrow.parquet as pq

        sink = os.path.join(self.work_dir, "sink")
        cube.write_chunks(sink)
        return check_cells(pq.read_table(sink).to_pandas(), self.inputs.oracle)

    def sink_bytes(self) -> int:
        sink = os.path.join(self.work_dir, "sink")
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(sink) for f in fs
                   if f.endswith(".parquet"))

    def clean(self) -> None:
        shutil.rmtree(os.path.join(self.work_dir, "sink"), ignore_errors=True)





# ------------------------------------------------- in-process layer probes

def per_image_us(fn, items, reps: int = 3) -> float:
    """Median over ``reps`` passes of single-thread time per item, in us."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append((time.perf_counter() - t0) / len(items) * 1e6)
    return float(np.median(times))


def decode_and_warp_us(sample, view) -> tuple:
    """codecs.decode and warp_plane (both bands, near) per image over a
    fixed sample of the workload's own payloads."""
    from gdalcubes_cpp_spark import codecs
    from gdalcubes_cpp_spark.operators.build import warp_plane

    rows = list(sample.itertuples(index=False))
    decode_us = per_image_us(lambda r: codecs.decode(r.bytes, r.fmt), rows)
    jobs = []
    for r in rows:
        ix0 = int(np.floor((r.left - view.left) / view.dx))
        ix1 = int(np.ceil((r.right - view.left) / view.dx))
        iy0 = int(np.floor((view.top - r.top) / view.dy))
        iy1 = int(np.ceil((view.top - r.bottom) / view.dy))
        xs = view.left + (np.arange(ix0, ix1 + 1) + 0.5) * view.dx
        ys = view.top - (np.arange(iy0, iy1 + 1) + 0.5) * view.dy
        jobs.append((codecs.decode(r.bytes, r.fmt), (r.left, r.right, r.bottom, r.top),
                     xs, ys))

    def warp(job):
        raw, bbox, xs, ys = job
        for b in range(raw.shape[2]):
            warp_plane(raw[:, :, b], bbox, xs, ys, view.resampling)

    return decode_us, per_image_us(warp, jobs)
