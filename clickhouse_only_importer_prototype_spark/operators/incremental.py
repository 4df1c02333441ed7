"""Incremental aggregate maintenance: mergeable partial aggregates.

The reference recomputes every output from scratch each run
(cmd/cli/main.go modes are full rebuilds). At 100 TB a daily metric
over an append-mostly table must NOT rescan history: keep per-group
partial aggregates (count / sum / min / max — commutative monoids),
compute partials for each new delta only, and fold. avg and friends
derive from (sum, count) at finalize time. This is the
materialized-view maintenance pattern, expressed as plain DataFrames:
``merge_partials`` is a union + one re-aggregation whose input is
groups x slices — metadata-scale, never the data.

The ``incremental_agg_merge`` catalog query pins the algebra in the
hard gate: partials(base) ⊕ partials(delta) must hash-match a
single-pass aggregate over the union (the DuckDB oracle recomputes
the latter).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

_FNS = {"sum": F.sum, "min": F.min, "max": F.max}
_ROWS = "n_rows"


def partial_aggs(
    df: DataFrame,
    group_cols: list[str],
    specs: dict[str, tuple[str, Column]],
) -> DataFrame:
    """Per-group partial state: ``n_rows`` plus one column per spec.

    ``specs`` maps output column -> (fn, expr) with fn in
    {'sum','min','max'}. Sums over floats should pass decimal-cast
    exprs — float partial sums are order-dependent and would break
    exact re-fold equality.
    """
    reserved = {_ROWS, *group_cols}
    bad = [out for out in specs if out in reserved]
    if bad:
        raise ValueError(
            f"spec outputs {bad} collide with group columns or the "
            f"reserved {_ROWS!r} column"
        )
    aggs = [F.count(F.lit(1)).alias(_ROWS)]
    for out, (fn, expr) in specs.items():
        if fn not in _FNS:
            raise ValueError(f"unsupported partial agg {fn!r} for {out!r}")
        aggs.append(_FNS[fn](expr).alias(out))
    return df.groupBy(*group_cols).agg(*aggs)


def merge_partials(
    partials: Sequence[DataFrame],
    group_cols: list[str],
    specs: dict[str, tuple[str, Column]],
) -> DataFrame:
    """Fold partial-aggregate slices into one: sum⊕sum, min⊕min,
    max⊕max, n_rows adds. Input frames must share the
    ``partial_aggs`` schema for the same specs."""
    if not partials:
        raise ValueError("no partial frames to merge")
    unioned = partials[0]
    for p in partials[1:]:
        unioned = unioned.unionByName(p)
    aggs = [F.sum(_ROWS).cast("long").alias(_ROWS)]
    for out, (fn, _) in specs.items():
        aggs.append(_FNS["sum" if fn == "sum" else fn](F.col(out)).alias(out))
    return unioned.groupBy(*group_cols).agg(*aggs)


def negate_partials(
    partials: DataFrame,
    specs: dict[str, tuple[str, Column]],
) -> DataFrame:
    """Retraction slice: flip the sign of ``n_rows`` and every sum
    partial, so folding it through ``merge_partials`` SUBTRACTS the
    slice — the algebra that lets a materialized view absorb CDC
    updates and deletes (retract old rows' contribution, add new
    rows') without rescanning history.

    Only counts and sums form a group (invertible); min/max are
    semilattice-only and CANNOT be retracted — a deleted row that held
    the minimum would need the second-smallest, which the partial
    state no longer knows. Specs containing min/max raise; maintain
    those by re-aggregating the affected groups or flag the view
    non-retractable.
    """
    bad = [out for out, (fn, _) in specs.items() if fn in ("min", "max")]
    if bad:
        raise ValueError(
            f"min/max partials are not retractable: {bad} — recompute the "
            "affected groups instead"
        )
    cols = [c for c in partials.columns]
    flip = {_ROWS, *specs}
    return partials.select(
        *[(-F.col(c)).alias(c) if c in flip else F.col(c) for c in cols]
    )


def join_delta(
    base_left: DataFrame,
    delta_left: DataFrame,
    base_right: DataFrame,
    delta_right: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """The NEW rows of (A ∪ dA) ⋈ (B ∪ dB) given the old result of
    A ⋈ B: exactly A⋈dB ∪ dA⋈B ∪ dA⋈dB (disjoint for append-only
    deltas, since every new pair involves at least one delta row).

    Incremental view maintenance for joins — the companion to
    merge_partials: a materialized join (or join+agg) absorbs a day's
    appends by joining each base against the OTHER side's delta, never
    re-joining base against base. At 100 TB the base⋈delta terms are
    the whole win: with both sides partitioned/bucketed on the join
    key, each delta partition probes only its matching base partition
    (partition pruning on the delta's key range), so cost scales with
    |delta| x selectivity, not |history|. Downstream aggregates fold
    the delta-pairs through partial_aggs + merge_partials.
    """
    cols = [on] if isinstance(on, str) else list(on)
    return (
        base_left.join(delta_right, cols)
        .unionByName(delta_left.join(base_right, cols))
        .unionByName(delta_left.join(delta_right, cols))
    )
