"""The query pass of the traced run: short ``benchqueries.DEFS`` queries
over small seeded tables, each checked against its DuckDB oracle.

No end-to-end workload runs these queries (a full measurement has no room
for a third workload); the traced run of ``cube_jpeg`` runs one warm-up
pass and one traced pass, so that the ``benchqueries`` layer keeps its
per-query ``q.<name>.call_s`` and ``q.<name>.exec_s``.

The tables have the columns and sizes of the sf0.001 test tables the
queries are written for (``TESTDATA.md``): ``orders`` (the queries derive
one image footprint per order), ``events`` and ``embeddings``. Every value
comes from ``numpy.random.default_rng(seed)``, and the order keys start at
a seed-dependent base, so each seed gives other footprints, dates, events
and vectors. The tables and the oracle answers are made once per (seed,
code) into the work directory and verified by content digest before
reuse; ``code`` is a digest of this file and of ``benchqueries.py``, which
holds the oracle SQL.

A pass runs every query in ``QUERIES``: the ``DEFS`` call that builds the
DataFrame, then ``toPandas()``, then the check. Oracled queries must give
the oracle's rows exactly (columns sorted by name, floats rounded to 9
digits, rows order-insensitive); rows-only queries, approximate by
construction (``ann_ivf_topk``), must give at least one row.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

import numpy as np

SOURCES = ("perfbench/queries.py", "gdalcubes_cpp_spark/benchqueries.py")
# per-query fixed costs dominate these; the heavier DEFS queries (s2_knn,
# doc_dedup_clusters, cube_count_images, extract_geom) cost 4-7 s each
# warm even on the smallest tables, and simple_cube_decode adds 1 s warm
# and 3 s cold for a decode the cube workloads measure; none fits the
# run budget
QUERIES = ("stjoin_rows", "events_sessionize", "format_ingest",
           "zonal_statistics", "ann_ivf_topk")
N_ORDERS, N_EVENTS, N_EMBEDDINGS, DIM = 1500, 1000, 500, 64
KEY_STRIDE = 1 << 20     # order keys of seed s start at (s % 4096) * stride


def _tables(seed: int) -> dict:
    import pandas as pd

    rng = np.random.default_rng(seed)
    orders = pd.DataFrame({
        "o_orderkey": (seed % 4096) * KEY_STRIDE + np.arange(N_ORDERS),
        "o_custkey": rng.integers(0, 150, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": np.datetime64("1995-01-01")
        + rng.integers(0, 2404, N_ORDERS).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    events = pd.DataFrame({
        "event_id": np.arange(N_EVENTS),
        "ts": np.datetime64("2024-01-01T00:00:00") + us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15, N_EVENTS),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"],
                                 N_EVENTS),
        "value": np.round(rng.uniform(0.0, 330.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    vec = rng.normal(size=(N_EMBEDDINGS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame({"vec_id": np.arange(N_EMBEDDINGS),
                               "embedding": list(vec),
                               "label": rng.integers(0, 10, N_EMBEDDINGS)})
    return {"orders": orders, "events": events, "embeddings": embeddings}


_CASTS = {
    "orders": "CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) "
              "AS o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS "
              "TIMESTAMP) AS o_orderdate, o_orderpriority",
    "events": "CAST(event_id AS BIGINT) AS event_id, CAST(ts AS TIMESTAMP) AS ts, "
              "CAST(user_id AS BIGINT) AS user_id, event_type, value, props",
    "embeddings": "CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS FLOAT[]) "
                  "AS embedding, CAST(label AS INTEGER) AS label",
}


def canon(pdf) -> list:
    """Columns sorted by name, floats rounded to 9 digits, rows sorted."""
    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False):
        row = []
        for v in rec:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif isinstance(v, (float, np.floating)):
                row.append(round(float(v), 9))
            elif isinstance(v, (int, np.integer)):
                row.append(int(v))
            else:
                row.append(str(v))
        rows.append(row)
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return [cols] + rows


class Tables:
    """The seeded tables (``path`` holds ``<table>.parquet``) and the
    canonical oracle rows per oracled query."""

    def __init__(self, path: str, answers: dict, reused: bool):
        self.path = path
        self.answers = answers
        self.reused = reused


def prepare(cache_dir: str, seed: int) -> Tables:
    import duckdb

    from gdalcubes_cpp_spark.benchqueries import DEFS
    from perfbench.inputs import code_digest, sha256_file, verified

    stem = os.path.join(cache_dir, f"sf-s{seed}")
    d = f"{stem}-{code_digest(SOURCES)}"
    reused = verified(d)
    if not reused:
        for old in glob.glob(stem + "-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp = d + ".tmp"
        os.makedirs(tmp)
        con = duckdb.connect()
        for name, pdf in _tables(seed).items():
            con.register("src", pdf)
            con.execute(f"COPY (SELECT {_CASTS[name]} FROM src) TO "
                        f"'{tmp}/{name}.parquet' (FORMAT PARQUET)")
            con.unregister("src")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{tmp}/{name}.parquet')")
        answers = {q: canon(con.execute(DEFS[q][1]).df())
                   for q in QUERIES if DEFS[q][1] is not None}
        con.close()
        with open(os.path.join(tmp, "answers.json"), "w") as f:
            json.dump(answers, f)
        names = [f"{t}.parquet" for t in _CASTS] + ["answers.json"]
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump({n: sha256_file(os.path.join(tmp, n)) for n in names}, f, indent=1)
        os.rename(tmp, d)
    with open(os.path.join(d, "answers.json")) as f:
        answers = json.load(f)
    return Tables(d, answers, reused)


class QueryPass:
    """Passes over ``QUERIES``, every result checked."""

    def __init__(self, spark, inputs: Tables):
        self.spark = spark
        self.inputs = inputs

    def check(self, q: str, pdf) -> int:
        from perfbench.workloads import CheckFailed

        want = self.inputs.answers.get(q)
        if want is None:
            if not len(pdf):
                raise CheckFailed(f"{q}: no rows")
            return len(pdf)
        got = json.loads(json.dumps(canon(pdf)))        # as the stored answer
        if got[0] != want[0]:
            raise CheckFailed(f"{q}: columns {got[0]} != {want[0]}")
        if len(got) != len(want):
            raise CheckFailed(f"{q}: {len(got) - 1} rows, oracle {len(want) - 1}")
        bad = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
        if bad is not None:
            raise CheckFailed(f"{q}: row {bad} {got[bad]} != {want[bad]}")
        return len(pdf)

    def _one(self, q: str, tr=None) -> int:
        from contextlib import nullcontext

        from gdalcubes_cpp_spark.benchqueries import DEFS

        with tr.span(f"q.{q}.call") if tr else nullcontext():
            df = DEFS[q][0](self.spark, self.inputs.path)
        with tr.span(f"q.{q}.exec") if tr else nullcontext():
            pdf = df.toPandas()
        return self.check(q, pdf)

    def run(self) -> int:
        return sum(self._one(q) for q in QUERIES)

    def traced(self, tr) -> int:
        with tr.span("queries"):
            return sum(self._one(q, tr) for q in QUERIES)

    @staticmethod
    def layer_metrics(tr) -> dict:
        return {f"q.{q}.{part}_s": tr.duration(f"q.{q}.{part}")
                for q in QUERIES for part in ("call", "exec")}
