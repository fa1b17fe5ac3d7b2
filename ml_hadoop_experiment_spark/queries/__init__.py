"""Declared queries: each SURVEY.md §2 operator as a (Spark, oracle-SQL) pair.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the
matching entry in ``ORACLE_SQL`` is ANSI SQL DuckDB executes over the same
parquet tables. Column names are aligned on both sides because the
comparison hashes values after sorting columns by name.

Determinism rules used throughout (SURVEY.md §7 "what's hard"):
- randomness -> portable multiplicative / md5 hashes (functions/hashing.py),
  bit-identical in Spark and DuckDB;
- double SUM/AVG -> per-row CAST to DECIMAL before aggregating (exact,
  order-independent), final CAST back to DOUBLE (deterministic);
- no timestamps in outputs (comparison semantics differ across drivers).

Registration is by naming convention: every ``q_<name>`` function defined
in a domain module is the query ``<name>``, and that module's
``SQL_<NAME>`` string is its oracle twin.
"""

from __future__ import annotations

import importlib

_DOMAINS = (
    "ann",
    "dedup",
    "multimodal",
    "reference",
    "relational",
    "sampling",
    "stats",
    "streaming",
    "temporal",
    "text",
    "tokenizer",
)


def _discover() -> tuple[dict, dict]:
    queries, oracles = {}, {}
    for domain in _DOMAINS:
        module = importlib.import_module(f"{__name__}.{domain}")
        for attr, fn in vars(module).items():
            if not attr.startswith("q_"):
                continue
            if getattr(fn, "__module__", None) != module.__name__:
                continue  # imported from another module, not defined here
            name = attr[2:]
            sql = getattr(module, f"SQL_{name.upper()}", None)
            if not isinstance(sql, str):
                raise ImportError(
                    f"{module.__name__}.{attr} has no SQL_{name.upper()} oracle"
                )
            if name in queries:
                raise ImportError(f"query {name!r} is defined twice")
            queries[name], oracles[name] = fn, sql
    return dict(sorted(queries.items())), dict(sorted(oracles.items()))


QUERIES, ORACLE_SQL = _discover()
