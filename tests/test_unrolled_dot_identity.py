"""Focused test for the r6 embedding_neardup hot-loop rewrite
(OPTIMIZATION_r06.md): the shipped dot expression
(``dedup._neardup_dot``) must perform the IDENTICAL IEEE-754 operation
sequence as the left fold ``((0.0 + a1*b1) + a2*b2) + ...`` — bit-identical
doubles, not approximately-equal ones — because the query's cosine
threshold and the DuckDB oracle hash are exact. 64-dim rows take the
unrolled branch, other dimensions the size-guarded HOF fallback; both are
checked against a pure-Python fold on adversarial magnitudes (mixed signs,
exponents spanning 1e-30..1e30) where any reassociation WOULD change the
result."""

import random
import struct

from biomedical_entity_linking_spark.operators.dedup import _neardup_dot


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def test_unrolled_matches_hof_bitwise(spark):
    rng = random.Random(1234)

    def vec(dim):
        return [
            rng.choice([-1.0, 1.0]) * rng.random() * 10 ** rng.randint(-30, 30)
            for _ in range(dim)
        ]

    dims = [64] * 200 + [3, 100]
    rows = [(vec(d), vec(d)) for d in dims]
    got = (
        spark.createDataFrame(rows, "pv array<double>, v array<double>")
        .select("pv", "v", _neardup_dot("pv", "v").alias("d"))
        .collect()
    )
    assert sorted(len(r["pv"]) for r in got) == sorted(dims)
    for r in got:
        want = _fold(r["pv"], r["v"])
        assert _bits(r["d"]) == _bits(want), (len(r["pv"]), r["d"], want)
