"""Change-data-capture application: batch MERGE (upsert/delete
apply) and SCD2 dimension-history builds.

The reference is a one-shot importer (cmd/cli/main.go:46-108 — every
mode rebuilds its output tables from scratch). A 100 TB deployment
cannot re-import to pick up changes: the missing operation is applying
an incremental change set to a standing snapshot (lakehouse MERGE),
plus turning a change log into an as-of-queryable SCD2 history. Both
are pure DataFrame compositions — no custom physical operator.

Scale shapes:

* ``merge_changes`` is ONE co-partitioned full-outer join keyed on the
  merge key. The change set collapses to latest-per-key with a
  ``max_by`` groupBy first (map-side partial aggregation; the change
  set is typically orders of magnitude smaller than the base, so its
  shuffle is cheap and Catalyst/AQE broadcasts it under the
  threshold). The base shuffles once — or never, when both sides are
  bucketed by the key (``DataFrameWriter.bucketBy``): then the merge
  plan has zero Exchange. No windows over the base, no global sort.
* ``scd2_history`` windows partition by the dimension key — per-key
  state is the key's change count, never the table; no global sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F


def latest_changes(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
) -> DataFrame:
    """Collapse a change stream to one winning row per key: highest
    ``seq_col`` wins. ``seq_col`` must be unique per key (a CDC LSN /
    commit version); ties would be nondeterministic and are the
    producer's bug, not resolvable here.

    One groupBy with map-side combine — the scale-right shape (a
    ROW_NUMBER window over the change stream would sort each key group
    instead of folding it).
    """
    payload = [c for c in changes.columns if c not in key_cols]
    if seq_col not in payload:
        raise ValueError(f"{seq_col!r} must be a non-key column of changes")
    win = F.max_by(
        F.struct(*[F.col(c) for c in payload]), F.col(seq_col)
    ).alias("__win")
    out = changes.groupBy(*key_cols).agg(win)
    return out.select(
        *key_cols, *[F.col(f"__win.{c}").alias(c) for c in payload]
    )


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change set to a base snapshot (batch MERGE).

    ``changes`` carries the base's columns plus ``op_col`` in
    {'I','U','D'} and ``seq_col`` ordering multiple changes to one
    key. Semantics per key, after latest-change collapse:

    * no change row           -> base row kept as-is
    * latest op 'D'           -> row dropped (even if base-missing)
    * latest op 'I' or 'U'    -> change row's values (an upsert: 'U'
      on a base-missing key inserts, 'I' on an existing key replaces —
      the tolerant MERGE the retry-prone 100 TB world wants)

    Output columns = base columns.
    """
    data_cols = [c for c in base.columns if c not in key_cols]
    missing = [c for c in data_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes missing base columns: {missing}")
    clash = [c for c in (op_col, seq_col) if c in base.columns]
    if clash:
        # a base column named like the CDC marker/sequence would be
        # silently overwritten with 'I'/'U' markers — refuse loudly
        raise ValueError(
            f"base columns {clash} collide with CDC marker/seq columns; "
            "rename via op_col/seq_col"
        )
    latest = latest_changes(changes, key_cols, seq_col)
    # base and changes often share lineage (a change feed derived from
    # the snapshot in tests); qualified-name refs over explicit aliases
    # keep the self-join unambiguous
    b = base.alias("__b")
    c = latest.alias("__c")
    bc = lambda col: F.col(f"__b.{col}")  # noqa: E731
    cc = lambda col: F.col(f"__c.{col}")  # noqa: E731
    # plain equality, matching SQL MERGE: NULL keys never match (they
    # ride through the full outer as unmatched rows). Also one shuffle
    # cheaper than a null-safe join — hashpartitioning(key) from the
    # latest-change groupBy is reused by the join, where eqNullSafe
    # would repartition on (coalesce(key), isnull(key)).
    cond = reduce(lambda x, y: x & y, [bc(k) == cc(k) for k in key_cols])
    joined = b.join(c, cond, "full_outer")
    has_change = cc(op_col).isNotNull()
    keys = [F.coalesce(cc(k), bc(k)).alias(k) for k in key_cols]
    vals = [
        F.when(has_change, cc(col)).otherwise(bc(col)).alias(col)
        for col in data_cols
    ]
    return (
        joined.where(~has_change | (cc(op_col) != F.lit("D")))
        .select(*keys, *vals)
        .select(*base.columns)
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Reconcile two snapshots of the same table: (status, n_keys)
    with status in added / removed / changed / unchanged / dup_key.
    'changed' is any non-key column differing null-safely. Each side
    folds to one row per key BEFORE the co-partitioned full-outer
    join, so a key appearing multiple times on either side — the
    classic row-duplicating MERGE regression — surfaces as 'dup_key'
    instead of silently multiplying join rows and auditing clean.
    The audit certifies a MERGE did exactly what the change set said
    (its output should equal the change set's I/U/D counts). NULL
    keys never match (MERGE semantics), so a null-keyed row in both
    snapshots counts as removed + added.
    """
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshots differ in columns: {sorted(old.columns)} vs "
            f"{sorted(new.columns)}"
        )
    data_cols = [c for c in old.columns if c not in key_cols]

    def fold(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("__cnt")]
        aggs.extend(F.max(c).alias(c) for c in data_cols)
        return df.groupBy(*key_cols).agg(*aggs)

    o = fold(old).alias("__o")
    n = fold(new).alias("__n")
    oc = lambda col: F.col(f"__o.{col}")  # noqa: E731
    nc = lambda col: F.col(f"__n.{col}")  # noqa: E731
    cond = reduce(lambda x, y: x & y, [oc(k) == nc(k) for k in key_cols])
    joined = o.join(n, cond, "full_outer")
    changed = (
        reduce(
            lambda x, y: x | y,
            [~oc(c).eqNullSafe(nc(c)) for c in data_cols],
        )
        if data_cols
        else F.lit(False)
    )
    status = (
        F.when(
            (F.coalesce(oc("__cnt"), F.lit(1)) > 1)
            | (F.coalesce(nc("__cnt"), F.lit(1)) > 1),
            F.lit("dup_key"),
        )
        .when(oc("__cnt").isNull(), F.lit("added"))
        .when(nc("__cnt").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n_keys")
    )


def scd2_history(
    log: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    high_ts: str | int = "2261-12-31 00:00:00",
) -> DataFrame:
    """Build an SCD type-2 history from an attribute change log:
    one row per (key, attribute run) with [eff_from, eff_to) validity.

    Consecutive observations with an unchanged attribute collapse into
    one version; a version's ``eff_to`` is the next version's
    ``eff_from`` (half-open ranges chain gaplessly), the current
    version carries the ``high_ts`` sentinel and ``is_current`` = 1.
    (``ts_col``, ``tiebreak_col``) must totally order each key's log.

    The sentinel defaults to 2261-12-31, not the conventional
    9999-12-31: the classic high date overflows nanosecond timestamps
    (pandas/Arrow ns range ends 2262-04-11), so any Arrow-converting
    consumer — including the correctness harness — would reject the
    frame. 2261 keeps the "far future" semantics inside every
    engine's range.

    Output: (key, attr, eff_from, eff_to, version, is_current).

    ``ts_col`` may be a timestamp/date column or an ISO-8601 string
    column (string ``high_ts`` sentinel — for strings the cast is
    identity and lexicographic order is chronological), or an integral
    column — the engine's own raw-nanos events contract — in which
    case ``high_ts`` MUST be passed as an int (e.g. epoch nanos of
    2261-12-31): a string sentinel cast to long would silently yield
    NULL and mislabel every current row.
    """
    from pyspark.sql.types import (
        DateType,
        IntegralType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    ts_type = log.schema[ts_col].dataType
    if isinstance(ts_type, IntegralType):
        if not isinstance(high_ts, int):
            raise TypeError(
                f"ts column {ts_col!r} is {ts_type.simpleString()}: pass an "
                "integer high_ts sentinel (a string would cast to NULL)"
            )
    elif isinstance(
        ts_type, (TimestampType, TimestampNTZType, DateType, StringType)
    ):
        if isinstance(high_ts, int):
            raise TypeError(
                f"ts column {ts_col!r} is {ts_type.simpleString()}: pass a "
                "string high_ts sentinel"
            )
    else:
        raise TypeError(
            f"unsupported ts column type for SCD2: {ts_type.simpleString()}"
        )
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    marked = log.select(
        key_col,
        attr_col,
        ts_col,
        tiebreak_col,
        F.row_number().over(w).alias("__rn"),
        F.lag(attr_col).over(w).alias("__prev"),
    )
    # null-safe change test + explicit first-row marker: a NULL
    # attribute observation is a real version (and a NULL-attr first
    # row must not vanish just because lag() also yields NULL there)
    starts = marked.where(
        (F.col("__rn") == 1)
        | ~F.col(attr_col).eqNullSafe(F.col("__prev"))
    )
    eff_to = F.lead(ts_col).over(w)
    ts_type = log.schema[ts_col].dataType
    return starts.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("eff_from"),
        F.coalesce(eff_to, F.lit(high_ts).cast(ts_type)).alias("eff_to"),
        F.row_number().over(w).cast("long").alias("version"),
        eff_to.isNull().cast("long").alias("is_current"),
    )
