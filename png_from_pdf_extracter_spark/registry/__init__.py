"""The driver's query registry: each query is declared once, at its builder.

``@query(oracle=...)`` above ``def _q_<name>(spark, sf_dir)`` registers the
builder as ``q_<name>`` with its DuckDB oracle SQL; a builder whose output is
not SQL-expressible passes ``pin="tests/<file>.py::<test>"`` instead, naming
the test that checks its values. ``load()`` imports every domain module of
this package (one per ``functions/`` or ``operators/`` module, plus a few
builtin-only topics) and returns the filled ``REGISTRY``; ``__spark_entry__``
derives ``queries()`` and ``oracle_sql()`` from it. No engine module imports
this package.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None
    pin: str | None


REGISTRY: dict[str, Query] = {}


def query(oracle: str | None = None, pin: str | None = None):
    """Register ``_q_<name>`` as query ``q_<name>``; a second declaration of
    the same name raises ``ValueError``."""

    def register(build: Builder) -> Builder:
        name = "q_" + build.__name__.removeprefix("_q_")
        if name in REGISTRY:
            raise ValueError(f"query {name} declared twice")
        REGISTRY[name] = Query(name, build, oracle, pin)
        return build

    return register


def load() -> dict[str, Query]:
    """Import every domain module, so each ``@query`` has run."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    return REGISTRY
