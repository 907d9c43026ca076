"""The declared queries, one module per family.

A family module holds the queries that mainly exercise one operator
module, and the helpers only they use. A query is a module-level function
``q_<name>(spark, sf_dir) -> DataFrame``; ``<name>`` is its key in
``queries()``. ``@oracle(...)`` on it gives its DuckDB twin: the SQL, or,
for a twin built from other twins, a function of ``oracle_sql()``'s other
entries by name. A query without one is checked on rows only.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable


def oracle(sql: str | Callable[[dict[str, str]], str]):
    """Attach the DuckDB twin of the query it decorates."""

    def attach(fn):
        fn.oracle = sql
        return fn

    return attach


def declared() -> dict[str, Callable]:
    """name -> query of every family: families in module-name order, each
    family's queries in the order they are defined."""
    out = {}
    for mod in pkgutil.iter_modules(__path__):
        family = importlib.import_module(f"{__name__}.{mod.name}")
        for attr, fn in vars(family).items():
            if attr.startswith("q_") and fn.__module__ == family.__name__:
                out[attr[2:]] = fn
    return out
