"""Vector arithmetic over the ``embeddings`` column (array<float>, dim 64),
defined once per engine: Spark Columns for the operators, DuckDB text for
the oracles.

- dot / norm / cosine: ``_dot``, ``_norm``, ``_cos`` (Spark) and
  ``_dot_sql``, ``_cos_sql`` (DuckDB). Both fold the products sequentially
  in array order with double accumulation (F.aggregate / list_reduce), so
  the doubles agree bitwise and the parity check needs no tolerance.
- sign-bit keys: the seeded ``_hyperplanes`` and the packed key over a
  slice of them, bit j = sign(v . plane[j]) — ``_sign_key_spark_sql`` and
  ``_sign_key_sql``; callers pass ``planes[lo:lo+n]`` for one band.

A leaf module (pyspark and numpy only): similarity.py imports dedup.py at
module level, so a fragment defined in similarity.py could not reach
dedup.py's oracle text without an import cycle.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

DIM = 64


def _dot(a, b):
    """Sequential double-accumulation dot product (order-deterministic);
    ``a`` and ``b`` are column names or Columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _cos(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _dot_sql(a: str, b: str, dim: int = DIM) -> str:
    """DuckDB twin of ``_dot`` over the first ``dim`` elements."""
    return (
        f"list_reduce(list_transform(range(1, {dim}+1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def _cos_sql(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"{_dot_sql(a, b, dim)}"
        f" / (sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)}))"
    )


def _hyperplanes(n_planes: int = 8, dim: int = DIM) -> list[list[float]]:
    """Deterministic random hyperplanes (seed 42) shared by all executors."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim)).tolist()


def _plane_dot_spark_sql(col: str, plane: list[float]) -> str:
    """Spark-SQL string twin of ``_dot(col, array(<plane lits>))``: the same
    zip_with/aggregate double fold over the same literal doubles (``repr``
    round-trips every float64 and the ``D`` suffix parses as DOUBLE), but
    built as ONE ``F.expr`` parse on the JVM instead of ~65 py4j round trips
    per plane — the round-11 profile charged ~1.4 s of emb_neardup_pairs'
    construction to exactly this chatter (guide §7.3: don't generate giant
    expression trees in driver loops)."""
    arr = "array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"
    return (
        f"aggregate(zip_with(`{col}`, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _sign_key_spark_sql(col: str, planes: list[list[float]]) -> str:
    """Packed sign-bit key over ``planes`` as a Spark-SQL string — bit j =
    sign(v . planes[j]), identical CASE/int arithmetic to a Column-built
    fold (integer ops are exact, so emission order is irrelevant to the
    value)."""
    terms = [
        f"(CASE WHEN {_plane_dot_spark_sql(col, p)} >= 0 THEN 1 ELSE 0 END) * {2 ** j}"
        for j, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _plane_dot_sql(col: str, plane: list[float]) -> str:
    """DuckDB dot product of ``col`` with a literal plane as an explicit
    left-associated sum — the same accumulation order as the Spark fold, so
    the doubles are bitwise identical (repr round-trips every float64)."""
    return "(" + " + ".join(f"{col}[{i + 1}]::DOUBLE * ({x!r})" for i, x in enumerate(plane)) + ")"


def _sign_key_sql(col: str, planes: list[list[float]]) -> str:
    """DuckDB mirror of ``_sign_key_spark_sql``."""
    terms = [
        f"(CASE WHEN {_plane_dot_sql(col, p)} >= 0 THEN 1 ELSE 0 END) * {2 ** j}"
        for j, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"
