"""The oracle-gated query registry.

Each query is declared once, beside its builder, by the :func:`query`
decorator: a name, the Spark builder ``build(spark, sf_dir) -> DataFrame``
and ``oracle``, a zero-argument callable returning its DuckDB twin (SQL
over the sf-dir tables as views). Spark expression and SQL twin are
generated from the SAME plan-time literals, so pure-arithmetic queries
are bit-identical across engines; the few queries using transcendentals
(exp) or order-dependent double sums round their outputs to 6 decimals on
BOTH sides. One module per family; importing this package registers all
of them. The driver records at most
:data:`MAX_QUERIES` queries; a further one silently gets no correctness
row.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

MAX_QUERIES = 50


class Query(NamedTuple):
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]


REGISTRY: dict[str, Query] = {}


def query(name: str, *, oracle: Callable[[], str]):
    """Register the decorated builder as query ``name`` with its oracle."""
    def register(build):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        REGISTRY[name] = Query(build, oracle)
        return build
    return register


from queries import (  # noqa: E402,F401  (registration side effect)
    binning, calibration, embeddings, events, loaders, media, text,
)
