"""The query registry: one ``register`` decorator for every query module.

Each ``queries*.py`` module decorates its builders with ``register``; this
module imports no query module, so any of them can be imported first.
``gan_deeplearning4j_spark.queries`` imports all of them and puts
``REGISTRY`` in its fixed order (module position, then definition order);
import that module, not this one, to see the complete registry.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .io import load_table


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # included in bench.py
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, headline: bool = False,
             doc: str = ""):
    """Add the decorated builder to REGISTRY under ``name``. A name that is
    already registered raises ValueError and leaves REGISTRY unchanged: an
    overwrite would silently ship one query under another's name."""
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(
                f"query name {name!r} is already registered by "
                f"{REGISTRY[name].fn.__module__}"
            )
        REGISTRY[name] = Query(fn=fn, oracle=oracle, headline=headline, doc=doc)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
