"""Scalar helper expressions (SURVEY §2.7 F1-F7).

All JVM-side built-ins — nothing here leaves whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def ns(col: Column | str) -> Column:
    """Null-safe string: coalesce to "" — the reference's no-null
    contract (mutation/transformer.go:324)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("string"), F.lit(""))


def underscore_join(*parts: Column | str) -> Column:
    """``a + "_" + b`` composition used for sample/profile ids
    (mutation/transformer.go:378-379; cna/transformer.go:492-500)."""
    cols = [p if isinstance(p, Column) else F.lit(p) for p in parts]
    return F.concat_ws("_", *cols)


def comma_join(*cols: Column) -> Column:
    """Comma-joined value list (cna/transformer.go:503,525)."""
    return F.concat_ws(",", *cols)


def salted_join(
    left,
    right,
    on: str,
    salt: int = 8,
    how: str = "inner",
):
    """Equi-join with key salting for skewed fact keys.

    The left (large, skewed) side gets a random salt in [0, salt); the
    right side is replicated ``salt`` times with every salt value, and
    the join runs on (key, salt) — splitting each hot key's rows across
    ``salt`` reducers instead of one straggler. Result equals
    ``left.join(right, on, how)`` exactly for the supported ``how``
    values: because the right side is replicated ``salt`` times, an
    unmatched right row would surface ``salt`` times under
    ``right``/``full`` outer semantics — those modes are rejected.

    AQE's skew-join handles sort-merge skew automatically at runtime;
    salting remains the tool when AQE can't help (aggregation-free
    shuffle-hash paths, or skew known ahead of time). The salt column
    uses a hash of a monotonic id, not rand(), so retried tasks
    produce identical output (determinism under task retry — a 100 TB
    correctness requirement, not a style point).
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join does not preserve {how!r} semantics: the replicated "
            f"right side would duplicate unmatched right rows. Allowed: inner, "
            f"left, left_semi, left_anti."
        )
    salted_l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int"),
    )
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt)])).alias("__salt")
    salted_r = right.select("*", salts)
    return salted_l.join(salted_r, [on, "__salt"], how).drop("__salt")

