"""Vector (embedding) column functions over ARRAY<FLOAT>.

Pure Column expressions via higher-order functions: ``zip_with`` for the
elementwise product, ``aggregate`` for the reduction — all JVM-side, no
Python in the loop.  At 100 TB these are map-only and scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def srp_bucket(a: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection LSH bucket id: one bit per hyperplane
    (sign of the dot product), packed into a long.  ``planes`` is a
    small driver-side list of unit vectors — broadcast as literals into
    the plan, so bucketing is map-only (no shuffle, no join)."""
    out = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        out = out + F.when(dot(a, lit_plane) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out
