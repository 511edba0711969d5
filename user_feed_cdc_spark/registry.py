"""The one query-registry factory. Every query module owns a QUERIES
dict (name -> fn(spark, sf_dir)) and an ORACLES dict (name -> DuckDB
SQL) — kept per module so the entry point can detect cross-module name
collisions — plus a `_register(name, oracle)` decorator that fills
both; `oracle=None` registers a query with no value-hash oracle."""

from __future__ import annotations

from collections.abc import Callable


def registry() -> tuple[dict, dict[str, str], Callable]:
    """A fresh (QUERIES, ORACLES, _register) triple for one module."""
    queries: dict = {}
    oracles: dict[str, str] = {}

    def _register(name: str, oracle: str | None):
        def deco(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, _register
