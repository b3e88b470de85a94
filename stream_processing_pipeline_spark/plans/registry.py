"""Query registry.

A :class:`Query` couples a Spark implementation with an equivalent DuckDB
oracle SQL string (ANSI SQL over the pre-registered fixture views). Column
names are part of the contract: the correctness harness sorts columns by name
and hash-compares values, so Spark aliases and SQL ``AS`` names must agree.

Queries without an oracle (``oracle=None``) are genuinely non-SQL-expressible
(custom stateful streaming, approximate/iterative algorithms) and get a
weaker rows-only check — kept to a minimum by design.

The external correctness gate checks only the first 50 registered queries,
so the registry is kept in gate order: least recently gated first, read from
the ``CORRECTNESS_r{N}.json`` rows the gate has recorded
(:func:`gate_evidence`, :func:`gate_order`).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import release

__all__ = [
    "Query",
    "REGISTRY",
    "register",
    "all_queries",
    "all_oracles",
    "EVIDENCE_ROOT",
    "gate_evidence",
    "gate_order",
]

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register *fn* as query *name*; its docstring is the description.

    The registry holds *fn* wrapped: each build through it first releases
    the frames the previous build persisted (:func:`..session.release`).
    The decorator returns *fn* itself, so a builder that calls another
    builder keeps its own frames for the length of its build.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            release()
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name, build, oracle, fn.__doc__ or "", tags)
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


#: Where the gate's ``CORRECTNESS_r{N}.json`` files live: the directory
#: holding the package.
EVIDENCE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_EVIDENCE_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def gate_evidence(root: str = EVIDENCE_ROOT) -> dict[str, tuple[int, int]]:
    """``{query: (round, slot)}`` for the newest ``CORRECTNESS_r{round}.json``
    in *root* that holds a row for the query; *slot* is the row's position in
    that file. Queries the gate never recorded are absent."""
    evidence: dict[str, tuple[int, int]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _EVIDENCE_FILE.search(path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except ValueError as exc:
            raise ValueError(f"unreadable gate evidence {path}: {exc}") from exc
        for slot, name in enumerate(rows):
            if rnd > evidence.get(name, (0, 0))[0]:
                evidence[name] = (rnd, slot)
    return evidence


def gate_order(names: Iterable[str], evidence: dict[str, tuple[int, int]]) -> list[str]:
    """*names* least recently gated first: never-gated queries (round 0),
    then by the round and slot of each query's newest row. Ties keep the
    order of *names* (registration order)."""
    return sorted(names, key=lambda n: evidence.get(n, (0, 0)))
