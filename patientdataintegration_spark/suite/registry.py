"""The suite's one lane registry. Every lane module registers its
builders here with `@register(name, sql)`; `sql` is the lane's
DuckDB oracle twin, so a lane without one cannot be registered."""

from __future__ import annotations

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"lane {name!r} registered twice")
        QUERIES[name] = fn
        ORACLES[name] = sql
        return fn

    return deco
