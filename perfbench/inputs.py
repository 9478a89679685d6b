"""Seeded input tables for the cube workloads, and their reference answers.

``--seed`` selects a disjoint window of image indices. ``synth`` derives all
content from the index through splitmix64, so every seed gives a different
table with the same footprint distribution (60% of footprints on 3
hotspots). A table is generated once per (kind, seed, size, code) into the
work directory, with its reference answer (``reference.py``), and both are
verified by content digest before reuse; ``code`` is a digest of the
sources that make them, so a change to the generator or the reference
makes a new table. Generation runs in a few worker processes (this file
run as a script, one per parquet part, each waited for) before the Spark
session starts, and is not timed.

Two kinds of table:
  synth  the ``synth`` collection (``synth._gen_batch``): PNG and lossy
         payloads of 32-96 px with caption and phash
  jpeg   48x48 2-band baseline-JPEG payloads, the shape of
         ``bench.materialize_images_codec``
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

from perfbench import reference as ref

WINDOW = 1 << 24      # image indices per seed; the seed picks the window
PARTS = 8             # parquet files per table, so the scan splits 4 ways
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ("perfbench/inputs.py", "perfbench/reference.py",
           "gdalcubes_cpp_spark/synth.py", "gdalcubes_cpp_spark/codecs.py",
           "gdalcubes_cpp_spark/sources/jpegbase.py")


def index_range(seed: int, n: int) -> tuple:
    if not 0 < n <= WINDOW:
        raise ValueError(f"table size {n} outside (0, {WINDOW}]")
    lo = (seed + 1) * WINDOW
    return lo, lo + n


def view():
    """The view ``reference.py`` answers for: bench.py's flagship view
    (1000x800 cells, 12 monthly slices of 2020, mean, near, chunks of
    4x100x125), pinned here so that the benchmark does not move with it."""
    from gdalcubes_cpp_spark.view import CubeView

    return CubeView.create(left=ref.LEFT, right=ref.RIGHT, bottom=ref.BOTTOM,
                           top=ref.TOP, nx=ref.NX, ny=ref.NY, t0="2020-01-01",
                           t1="2020-12-31", dt="P1M", aggregation="mean",
                           resampling="near", chunk_size=(4, 100, 125))


# ----------------------------------------------------------------- tables

def _write_part(kind: str, lo: int, hi: int, path: str) -> None:
    """One parquet file of the table, indices [lo, hi), and beside it
    (``<path>.npz``) the reference contributions of its images."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdalcubes_cpp_spark import codecs, synth

    idx = np.arange(lo, hi, dtype=np.int64)
    m = synth.meta_arrays(idx)
    if kind == "synth":
        pdf = synth._gen_batch(idx, True)
        pixels = [ref.synth_pixels(int(s), int(w), int(h), str(f))
                  for s, w, h, f in zip(m["seed"], m["w"], m["h"], m["fmt"])]
    elif kind == "jpeg":
        payload = [codecs.encode_jpeg(synth.make_pixels(int(s), 48, 48))
                   for s in m["seed"]]
        pdf = pd.DataFrame({
            "image_id": [f"jpg{i}" for i in idx], "bytes": payload,
            "w": np.int32(48), "h": np.int32(48), "fmt": "jpeg",
            "left": m["left"], "right": m["right"], "bottom": m["bottom"],
            "top": m["top"], "ts": m["ts"], "srs": "EPSG:4326"})
        pixels = [ref.decode_jpeg(b) for b in payload]
    else:
        raise ValueError(f"unknown table kind {kind!r}")
    # synth timestamps are UTC wall times; the session zone is UTC
    pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table.cast(table.schema.set(
        table.schema.get_field_index("ts"),
        pa.field("ts", pa.timestamp("us", tz="UTC")))), path)
    keys, b1, b2 = ref.contributions(zip(pixels, m["left"], m["right"], m["bottom"],
                                         m["top"], m["ts"]))
    np.savez(path + ".npz", keys=keys, b1=b1, b2=b2)


def _write_parts(jobs: list, procs: int) -> None:
    """Run ``_write_part`` for every job, at most ``procs`` processes at a
    time; every process is waited for, and all are killed if one fails."""
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    todo, running = list(jobs), []
    try:
        while todo or running:
            while todo and len(running) < procs:
                args = [str(a) for a in todo.pop(0)]
                running.append(subprocess.Popen(
                    [sys.executable, "-m", "perfbench.inputs", *args], env=env, cwd=ROOT))
            p = running.pop(0)
            if p.wait() != 0:
                raise RuntimeError(f"input part {p.args[3:]} failed: exit {p.returncode}")
    finally:
        for p in running:
            p.kill()
            p.wait()


# ------------------------------------------------------------------ cache

def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def code_digest(sources=SOURCES) -> str:
    """Digest of the sources (paths from the repository root) that make a
    table and its reference answer."""
    h = hashlib.sha256()
    for name in sources:
        with open(os.path.join(ROOT, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def verified(d: str) -> bool:
    """Whether every file in ``d``'s manifest is there with its digest."""
    try:
        with open(os.path.join(d, "_manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return False
    return bool(manifest) and all(os.path.exists(os.path.join(d, name))
                                  and sha256_file(os.path.join(d, name)) == digest
                                  for name, digest in manifest.items())


class Inputs:
    """A cached table plus its reference answer: ``path`` is a parquet
    directory, ``oracle`` maps it/iy/ix/B1/B2 to arrays sorted by
    (it, iy, ix)."""

    def __init__(self, path: str, oracle: dict, n: int, reused: bool):
        self.path = path
        self.oracle = oracle
        self.n = n
        self.reused = reused

    def table_bytes(self) -> int:
        """On-disk size of the table's parquet files: what a scan reads."""
        return sum(os.path.getsize(os.path.join(self.path, f))
                   for f in os.listdir(self.path) if f.endswith(".parquet"))


def prepare(cache_dir: str, kind: str, seed: int, n: int, procs: int) -> Inputs:
    stem = os.path.join(cache_dir, f"{kind}-s{seed}-n{n}")
    d = f"{stem}-{code_digest()}"
    reused = verified(d)
    if not reused:
        for old in glob.glob(stem + "-*"):          # made by other code
            shutil.rmtree(old, ignore_errors=True)
        tmp = d + ".tmp"
        os.makedirs(tmp)
        lo, hi = index_range(seed, n)
        edges = np.linspace(lo, hi, PARTS + 1).astype(np.int64)
        names = [f"part-{i:05d}.parquet" for i in range(PARTS)]
        _write_parts([(kind, int(a), int(b), os.path.join(tmp, nm))
                      for a, b, nm in zip(edges[:-1], edges[1:], names)], procs)
        parts = []
        for nm in names:
            with np.load(os.path.join(tmp, nm + ".npz")) as z:
                parts.append((z["keys"], z["b1"], z["b2"]))
            os.remove(os.path.join(tmp, nm + ".npz"))
        np.savez(os.path.join(tmp, "_oracle.npz"), **ref.mean_cube(parts))
        manifest = {nm: sha256_file(os.path.join(tmp, nm))
                    for nm in names + ["_oracle.npz"]}
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, d)
    with np.load(os.path.join(d, "_oracle.npz")) as z:
        oracle = {k: z[k] for k in z.files}
    return Inputs(d, oracle, n, reused)


def payload_sample(inputs: Inputs, k: int):
    """The first ``k`` rows of the table (by image_id), for the in-process
    decode and warp measurements."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(inputs.path, columns=["image_id", "bytes", "fmt", "w",
                                              "h", "left", "right", "bottom",
                                              "top"]).to_pandas()
    return pdf.sort_values("image_id").head(k).reset_index(drop=True)


if __name__ == "__main__":
    _write_part(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
