"""Vector column expressions for the embedding operators.

Everything stays in native Catalyst higher-order functions
(zip_with/aggregate), evaluated inside codegen — no UDF for the hot path.
Cosine is computed in double with a strict left-to-right fold so the value
is reproducible; oracle comparisons round to 4 decimals to absorb the
float->double promotion difference vs DuckDB's list functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket_dims(a: Column, dims: list[int]) -> Column:
    """Sign-pattern bucket over an arbitrary (seeded-random) set of 1-based
    coordinates — axis-aligned hyperplane LSH with configurable bit width.

    Axis-aligned planes are chosen for the ORACLE-CHECKED queries because a
    coordinate's sign is an exact predicate on the stored value (and on any
    affine combination both engines compute identically), so the bucket
    assignment can never ulp-flip between Spark and DuckDB the way the sign
    of a float dot product can.  The general Gaussian-plane variant is
    ``hyperplane_bits`` below.
    """
    parts = [F.when(F.element_at(a, d) >= 0, F.lit("1")).otherwise(F.lit("0"))
             for d in dims]
    return F.concat(*parts)


def seeded_sign_bands(n_bands: int, dims_per_band: int, dim: int = 64,
                      seed: int = 42) -> list[list[int]]:
    """Deterministic pseudo-random disjoint dim sets (1-based), one per LSH
    band.  OR-amplification: a pair is a candidate if ALL dims of ANY band
    agree in sign — b bands of r bits give the (1-(1-s^r)^b) S-curve."""
    import random
    rng = random.Random(seed)
    flat = rng.sample(range(1, dim + 1), n_bands * dims_per_band)
    return [flat[i * dims_per_band:(i + 1) * dims_per_band]
            for i in range(n_bands)]


def random_hyperplanes(n_planes: int, dim: int, seed: int = 7,
                       decimals: int = 6) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (Charikar 2002 SimHash family for
    cosine similarity), rounded so they embed as exact literals."""
    import random
    rng = random.Random(seed)
    return [[round(rng.gauss(0.0, 1.0), decimals) for _ in range(dim)]
            for _ in range(n_planes)]


def hyperplane_bits(a: Column, planes: list[list[float]]) -> Column:
    """General random-hyperplane LSH bucket: bit k = sign(<v, plane_k>),
    planes baked as literal arrays, the dot evaluated JVM-side via
    zip_with/aggregate.  This is the production bucket for cosine ANN at
    arbitrary bit width; use sign_bucket_dims where a cross-engine oracle
    must reproduce the bucket bit-exactly."""
    parts = []
    for plane in planes:
        p = F.array(*[F.lit(float(x)) for x in plane])
        d = dot(a, p)
        parts.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*parts)
