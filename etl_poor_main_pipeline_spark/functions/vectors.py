"""Vector math as pure Catalyst expressions over ``array<float|double>``.

No Python UDFs: ``zip_with`` + ``aggregate`` compile to JVM-side expression
trees that live inside whole-stage codegen — the difference between a
vectorized scan and a per-row Python round-trip at 100 TB (SURVEY §7.5).

All arithmetic is forced to double (inputs are float32 arrays in the
``embeddings`` fixture) so results are bit-identical with a DuckDB oracle
doing ``embedding::DOUBLE[]`` math — the parity tests depend on it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """sum_i a_i*b_i — sequential left-to-right accumulation, matching the
    summation order of a single-threaded oracle."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    c = _as_double(a)
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| * |b|); NULL-safe on empty/zero vectors (returns
    NULL via division rather than erroring)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def scale(a: Column | str, s: Column) -> Column:
    return F.transform(_as_double(a), lambda x: x * s)
