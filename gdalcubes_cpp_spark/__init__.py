"""gdalcubes_cpp_spark — PySpark-native spatial-join + tiling engine.

Public API (a user of the reference maps 1:1 onto these):

    from gdalcubes_cpp_spark import (
        get_spark, CubeView, Cube,
        build_cube, st_join, images_df, default_view,
        dummy_cube, formula_cube, empty_cube, simple_cube,
        read_chunks, write_cube,
    )
"""

__all__ = [
    "Band", "Cube", "CubeView", "Duration", "get_spark",
    "build_cube", "st_join", "images_df", "default_view",
    "dummy_cube", "formula_cube", "empty_cube", "simple_cube",
    "read_chunks", "write_cube",
]

from ._worker import guard_zip_invalidation as _guard_zip_invalidation

# every engine UDF unpickles into package modules, so a Spark Python worker
# runs this on its first task and keeps the guard for every later task it
# is reused for; a no-op on the driver and in stream_exec children
_guard_zip_invalidation()


def __getattr__(name):  # lazy: avoid importing Spark-heavy modules eagerly.
    # EVERY public name resolves on first touch (PEP 562), including Cube/
    # get_spark: stream_exec child processes (operators/streamexec.py) import
    # this package for the read/write helpers per CHUNK, and an eager
    # `from .cube import Cube` would make each child pay the full pyspark
    # import (~1 s) instead of ~0.1 s of pure-python modules.
    if name == "Cube":
        from .cube import Cube

        return Cube
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    if name in ("Band", "CubeView", "Duration"):
        from . import view

        return getattr(view, name)
    if name in ("build_cube",):
        from .operators.build import build_cube

        return build_cube
    if name in ("st_join",):
        from .operators.stjoin import st_join

        return st_join
    if name in ("images_df",):
        from .synth import images_df

        return images_df
    if name in ("default_view", "dummy_cube", "formula_cube", "empty_cube",
                "simple_cube", "read_chunks", "write_cube"):
        from .sources import collection

        return getattr(collection, name)
    raise AttributeError(name)
