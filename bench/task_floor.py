#!/usr/bin/env python
"""Per-task floor of a Python UDF stage against a JVM-only stage.

    python bench/task_floor.py

For 1, 4, 16 and 64 partitions of a one-row-per-partition ``spark.range``
it times, on a warm ``local[nproc]`` session, three stages written to the
``noop`` sink:

* ``jvm``: ``range`` -> noop, no Python worker;
* ``python``: a pass-through ``mapInPandas`` whose function is defined
  here and touches nothing of the package;
* ``engine``: the same pass-through, but its function imports
  ``gdalcubes_cpp_spark``, as every engine UDF does when it unpickles.

Each cell is the median wall of ``TRIALS`` runs (min and max beside it in
the JSON line), after one untimed warm-up pass so that the Python workers
exist. The kinds run one after the other, ``engine`` last, because a
reused worker keeps what an engine task set up. ``(python - jvm) /
partitions`` is the wall each Python task adds at ``local[nproc]``; the
``engine`` column shows what the package's worker-side set-up
(``gdalcubes_cpp_spark._worker``) does to it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTITIONS = (1, 4, 16, 64)
TRIALS = 5


def _passthrough(batches):
    for pdf in batches:
        yield pdf


def _engine_passthrough(batches):
    import gdalcubes_cpp_spark  # noqa: F401  (what an engine UDF unpickles)

    for pdf in batches:
        yield pdf


def _stage(spark, kind: str, n: int):
    df = spark.range(0, n, 1, numPartitions=n)
    if kind == "python":
        df = df.mapInPandas(_passthrough, schema=df.schema)
    elif kind == "engine":
        df = df.mapInPandas(_engine_passthrough, schema=df.schema)
    return df


def _time(spark, kind: str, n: int) -> float:
    t0 = time.perf_counter()
    _stage(spark, kind, n).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sys.path.insert(0, REPO)
    from gdalcubes_cpp_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="task_floor", cores=cores,
                      extra={"spark.driver.memory": "2g",
                             "spark.ui.showConsoleProgress": "false"})
    kinds = ("jvm", "python", "engine")
    rows = [{"partitions": n} for n in PARTITIONS]
    try:
        # one kind after the other: a reused worker keeps what an engine
        # task set up, so no python-kind task may run after the first one
        for kind in kinds:
            for n in PARTITIONS:      # warm-up: workers, codegen, imports
                _time(spark, kind, n)
            for row in rows:
                walls = [_time(spark, kind, row["partitions"])
                         for _ in range(TRIALS)]
                row[kind] = {"median_s": round(statistics.median(walls), 4),
                             "min_s": round(min(walls), 4),
                             "max_s": round(max(walls), 4)}
        for row in rows:
            n = row["partitions"]
            for kind in ("python", "engine"):
                row[f"{kind}_per_task_s"] = round(
                    (row[kind]["median_s"] - row["jvm"]["median_s"]) / n, 4)
    finally:
        spark.stop()

    print(f"{'partitions':>10} {'jvm_s':>8} {'python_s':>9} {'engine_s':>9}"
          f" {'python/task':>12} {'engine/task':>12}")
    for r in rows:
        print(f"{r['partitions']:>10} {r['jvm']['median_s']:>8.3f}"
              f" {r['python']['median_s']:>9.3f} {r['engine']['median_s']:>9.3f}"
              f" {r['python_per_task_s']:>12.4f} {r['engine_per_task_s']:>12.4f}")
    print(json.dumps({"statistic": f"median of {TRIALS}", "cores": cores,
                      "python": sys.version.split()[0], "rows": rows}))


if __name__ == "__main__":
    main()
