"""Driver-facing query catalog, discovered from the ``catalog_*`` modules.

Each ``catalog_<family>.py`` module owns its queries and declares:

- ``QUERIES``: {name: fn(spark, sf_dir) -> DataFrame};
- ``ORACLE_SQL``: {name: DuckDB SQL} over the same fixtures, with the
  same column aliases;
- ``HEADLINE`` (optional): the names ``bench.py`` times by default;
- ``ROWS_ONLY`` (optional): {name: reason} for a query with no oracle.

``merge`` folds them into one catalog, in module-name order, and raises
at import on a name declared by two modules, an oracle or mark for a
query the module does not declare, and an oracle-less query without a
``ROWS_ONLY`` reason. The catalog leads with each module's first query,
so samplers that take only the first N queries cover every family.
"""

from __future__ import annotations

import importlib
import pkgutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import whitebox_tools_spark
from whitebox_tools_spark.catalog_core import TILE, _docs_geo
from whitebox_tools_spark.operators import tiling
from whitebox_tools_spark.operators.pip import tag_polygon
from whitebox_tools_spark.sources import vectors


def merge(modules) -> tuple[dict, dict, tuple, dict]:
    """(QUERIES, ORACLE_SQL, HEADLINE, ROWS_ONLY) of ``modules``, in order."""
    owner: dict[str, str] = {}
    queries: dict = {}
    oracles: dict[str, str] = {}
    headline: list[str] = []
    rows_only: dict[str, str] = {}
    firsts: list[str] = []
    for mod in modules:
        name, qs, oracle = mod.__name__, mod.QUERIES, mod.ORACLE_SQL
        marks = tuple(getattr(mod, "HEADLINE", ()))
        reasons = getattr(mod, "ROWS_ONLY", {})
        for q in qs:
            if q in owner:
                raise ValueError(f"catalog: {q!r} is declared by {owner[q]} and {name}")
            owner[q] = name
        unknown = (set(oracle) | set(marks) | set(reasons)) - set(qs)
        if unknown:
            raise ValueError(f"{name}: oracle or mark for undeclared queries {sorted(unknown)}")
        bare = set(qs) - set(oracle)
        if bare != set(reasons):
            raise ValueError(
                f"{name}: queries without an oracle {sorted(bare)} "
                f"differ from its ROWS_ONLY {sorted(reasons)}"
            )
        firsts += list(qs)[:1]
        queries.update(qs)
        oracles.update(oracle)
        headline += marks
        rows_only.update(reasons)
    lead = set(firsts)
    order = firsts + [q for q in queries if q not in lead]
    return (
        {q: queries[q] for q in order},
        {q: oracles[q] for q in order if q in oracles},
        tuple(headline),
        rows_only,
    )


def _catalog_modules():
    infos = sorted(pkgutil.iter_modules(whitebox_tools_spark.__path__), key=lambda i: i.name)
    for info in infos:
        if info.name.startswith("catalog_"):
            mod = importlib.import_module(f"whitebox_tools_spark.{info.name}")
            if hasattr(mod, "QUERIES"):
                yield mod


QUERIES, ORACLE_SQL, HEADLINE, ROWS_ONLY = merge(_catalog_modules())


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship pipeline: derive -> tile -> population filter -> PIP clip ->
    per-tile per-polygon doc counts. One narrow PIP pass + one tiny-count
    broadcast filter + one final agg."""
    geo = _docs_geo(spark, sf_dir)
    tiled = tiling.lidar_tile(geo, min_points=2, **TILE)
    tagged = tag_polygon(tiled, vectors.rect_layer())
    return (
        tagged.groupBy("tile", "poly_fid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("z"), 6).alias("sum_z"),
        )
        .orderBy("tile", "poly_fid")
    )
