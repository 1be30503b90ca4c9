"""SQL catalog — register the engine's tables as temp views so users
can drive everything through ``spark.sql`` (the full declarative
surface; Catalyst sees the identical plans the DataFrame API builds).
"""

from __future__ import annotations

import importlib
import pkgutil
import re

from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> list[str]:
    """Register each parquet table under ``sf_dir`` as a temp view named
    after the table. Returns the registered names."""
    from .queries import load

    names = tables or TABLES
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    return names


def load_all() -> dict:
    """Register the whole catalog and return ``QUERIES``.

    ``queries.py`` registers the base catalog; the ``queries_extras``,
    ``queries_extras2`` … ``queries_extrasN`` modules register out-of-band
    (see the ``queries_extras`` module docstring) and are found here by
    name, imported in numeric-suffix order — ``extras10`` after
    ``extras9``, not after ``extras1`` — so ``list(QUERIES)`` keeps one
    stable order for every entry point."""
    from .queries import QUERIES

    extras = []
    for mod in pkgutil.iter_modules(importlib.import_module(__package__).__path__):
        m = re.fullmatch(r"queries_extras(\d*)", mod.name)
        if m:
            extras.append((int(m.group(1) or 1), mod.name))
    for _, name in sorted(extras):
        importlib.import_module(f"{__package__}.{name}")
    return QUERIES
