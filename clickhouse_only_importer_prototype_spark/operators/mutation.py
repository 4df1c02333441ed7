"""Mutation operators: by-name projection with "" fallback, the two
table builders, and the gapless surrogate-key assigner.

Reference semantics (mutation/transformer.go):
  * ``getFieldValue`` — column looked up by name, absent column -> ""
    (:311-325). Spark restatement: ``col if present else lit("")``,
    resolved at plan time (schema is known), so the fallback constant-
    folds — no per-row cost.
  * ``mutation_event`` / ``mutation`` — fixed projections (:348-407),
    co-generated from the same scan sharing MUTATION_EVENT_ID.
  * MUTATION_EVENT_ID — int64, starts at ``start``, dense/gapless,
    incremented per MAF row, threaded across files (:30-52, :410).

Scale design for the surrogate key (SURVEY §7.5.1): a naive global
``row_number()`` funnels 100 TB through one partition. Instead:
two-pass prefix-sum — (1) count rows per file (an aggregate over
file-name, metadata-sized result), (2) ``row_number() OVER
(PARTITION BY file ORDER BY scan_order)`` plus the file's broadcast
offset. The only shuffle is the per-file window partition, parallel
across files. The reference's own file order is nondeterministic (Go
map iteration, cmd/cli/main.go:309,496); we define sorted-path order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from clickhouse_only_importer_prototype_spark.functions import ns, underscore_join
from clickhouse_only_importer_prototype_spark.localframe import arrow_local_df
from clickhouse_only_importer_prototype_spark.schemas import (
    MUTATION_COLUMNS,
    MUTATION_EVENT_COLUMNS,
)

_FILE = "__file"
_SCAN_ORDER = "__scan_order"
EVENT_ID = "MUTATION_EVENT_ID"


def field_or_empty(df: DataFrame, name: str) -> F.Column:
    """By-name projection with "" default (getFieldValue parity, P1)."""
    if name is not None and name in df.columns:
        return ns(F.col(name))
    return F.lit("")


def with_sequential_ids(df: DataFrame, start: int = 0) -> DataFrame:
    """Assign dense, gapless int64 ids in (file, scan-order) order: the
    one-frame case of with_sequential_ids_multi (lexicographic file
    order), without the ``__file`` tag."""
    (ranked,), _ = with_sequential_ids_multi([df], start)
    return ranked.drop(_FILE)


def _tagged_scan(df: DataFrame) -> DataFrame:
    return (
        df.withColumn(_FILE, F.input_file_name())
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
    )


def _rank_with_offsets(tagged: DataFrame, offsets: list[tuple]) -> DataFrame:
    """Rank pass over a ``_tagged_scan`` frame with driver-computed
    (file, pid, offset, expected-count) rows; the drift guard raises
    mid-plan on any packing change (see with_sequential_ids_multi)."""
    spark = tagged.sparkSession
    offsets_df = arrow_local_df(
        spark, offsets, f"{_FILE} string, __pid int, __offset long, __expect long"
    )
    w = Window.partitionBy(_FILE, "__pid").orderBy("__mid")
    # same partition keys as `w`: shares its exchange, adds no shuffle
    w_full = Window.partitionBy(_FILE, "__pid")
    # left join so a partition the counts pass never saw surfaces as a
    # null expectation (raise) instead of vanishing through an inner join
    guard_ok = F.col("__expect").isNotNull() & (
        F.count("*").over(w_full) == F.col("__expect")
    )
    return (
        tagged.join(F.broadcast(offsets_df), [_FILE, "__pid"], "left")
        .withColumn(
            EVENT_ID,
            F.when(
                guard_ok,
                F.row_number().over(w) - F.lit(1) + F.col("__offset"),
            )
            .otherwise(
                F.raise_error(
                    F.concat_ws(
                        " ",
                        F.lit(
                            "with_sequential_ids: FilePartition packing"
                            " drifted between the counts pass and the"
                            " rank pass for"
                        ),
                        F.col(_FILE),
                        F.lit("pid"),
                        F.col("__pid").cast("string"),
                    )
                ).cast("long")
            )
            .cast("long"),
        )
        .drop("__pid", "__mid", "__offset", "__expect")
    )


def with_sequential_ids_multi(
    frames: list[DataFrame],
    start: int = 0,
    file_order: dict[str, int] | None = None,
) -> tuple[list[DataFrame], int]:
    """Gapless ids ACROSS several scan frames in one global
    (file, partition) order — the grouped D3 shape. Returns the ranked
    frames and the next free id (``start`` plus every counted row, so
    ``start`` when there are no rows), taken from the counts pass.

    Heterogeneous MAF headers force one csv scan per header group
    (Spark applies the first file's header to every file of a
    multi-path scan), but the id contract is corpus-wide: counts are
    collected per frame (one metadata-scale job each), prefix-summed
    TOGETHER in one global file order, and each frame ranks with
    its broadcast offsets — byte-identical ids to the sequential
    per-file loop, with every heavy pass running as a distributed
    scan. Output frames KEEP the ``__file`` tag so the caller can join
    per-file attributes (study/profile) before projecting.

    ``file_order`` maps each scan file URI (``input_file_name()``
    form) to its rank in the caller's processing order. The sequential
    loop iterates files in DISCOVERY order over raw paths; the scan
    tag is a percent-ENCODED URI, so sorting the URIs lexicographically
    can permute files whose raw paths contain characters that encode
    (``'a b' -> 'a%20b'``) — the caller must pass the discovery order
    explicitly for the byte-identical-ids contract to survive exotic
    filenames. ``None`` falls back to lexicographic URI order (only
    correct when every path is encoding-invariant); a scanned URI
    absent from the map raises rather than silently mis-ordering.

    Ranking is partition-parallel WITHIN each file: ``__mid``
    (monotonically_increasing_id) encodes ``partition_id << 33 +
    row_offset``, so ordering by ``__mid`` within a file is ordering by
    (scan partition, row offset). The window partitions by (file, scan
    partition) — a single 100 GB MAF ranks across all its scan splits
    in parallel instead of funneling through one task — and the driver
    prefix-sums the per-(file, partition) counts (one row per scan
    split) in (file, partition) order, which yields byte-identical ids
    to a per-file global rank. No persist: the counts are
    recompute-invariant, and a pinned full-MAF cache per file would
    leak for the session lifetime.

    ASSUMPTION (load-bearing): ``__pid``/``__mid`` are identical across
    the counts pass and the rank pass. True when both evaluate the same
    plan over unchanged files — FilePartition packing is a stable sort
    of splits — but a scan-conf change between the passes (AQE
    coalesce, ``spark.sql.files.maxPartitionBytes``) would repartition
    the second scan. Rather than silently permuting ids, the rank pass
    re-checks every (file, partition) row count against the broadcast
    expectation and raises mid-plan on any drift."""
    taggeds = [_tagged_scan(f) for f in frames]
    all_counts: list[tuple] = []
    for i, t in enumerate(taggeds):
        for row in t.groupBy(_FILE, "__pid").count().collect():
            all_counts.append((row[_FILE], row["__pid"], row["count"], i))
    if file_order is not None:
        missing = sorted(
            {c[0] for c in all_counts if c[0] not in file_order}
        )
        if missing:
            raise ValueError(
                "with_sequential_ids_multi: scan file(s) missing from "
                f"file_order map: {missing[:5]}"
            )

        def key(x):
            return (file_order[x[0]], x[1])

    else:

        def key(x):
            return (x[0], x[1])

    per_frame: list[list[tuple]] = [[] for _ in frames]
    acc = start
    for fpath, pid, cnt, i in sorted(all_counts, key=key):
        per_frame[i].append((fpath, pid, acc, cnt))
        acc += cnt
    return [
        _rank_with_offsets(t, per_frame[i])
        for i, t in enumerate(taggeds)
    ], acc


def next_event_id(df_with_ids: DataFrame, start: int = 0) -> int:
    """Final id + 1, for threading into a subsequent run
    (mutation/transformer.go:131,167-169). An empty file returns
    ``start`` unchanged — returning 0 would reset the cross-file
    counter and duplicate ids for every later file."""
    row = df_with_ids.agg(F.max(EVENT_ID).alias("m")).first()
    return (row["m"] + 1) if row["m"] is not None else start


def mutation_event(
    df: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """MAF -> mutation_event projection (mutation/transformer.go:348-371).

    ``df`` must already carry MUTATION_EVENT_ID. Absent MAF columns and
    the 7 reserved columns become "" (constant-folded by Catalyst).
    ``keep`` appends pass-through columns (e.g. a partition tag for the
    grouped per-study write) after the table columns.
    """
    cols = [F.col(EVENT_ID)]
    for out_name, src in MUTATION_EVENT_COLUMNS:
        expr = field_or_empty(df, src) if src else F.lit("")
        cols.append(expr.alias(out_name))
    cols.extend(F.col(k) for k in keep)
    return df.select(*cols)


def mutation(
    df: DataFrame,
    study: str | Column,
    profile: str | Column,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """MAF -> mutation projection (mutation/transformer.go:373-407).

    SAMPLE_ID = ``<study>_<Tumor_Sample_Barcode>`` (:377-380);
    GENETIC_PROFILE_ID is the profile literal; ANNOTATION_JSON "".
    ``study``/``profile`` may be Columns (convert_mutations' grouped
    write derives them per file from a broadcast manifest); string
    arguments fold to literals exactly as before. ``keep`` appends
    pass-through columns (see mutation_event).
    """
    cols = [
        F.col(EVENT_ID),
        (
            profile if isinstance(profile, Column) else F.lit(profile)
        ).alias("GENETIC_PROFILE_ID"),
        underscore_join(study, field_or_empty(df, "Tumor_Sample_Barcode")).alias(
            "SAMPLE_ID"
        ),
    ]
    for out_name, src in MUTATION_COLUMNS:
        expr = field_or_empty(df, src) if src else F.lit("")
        cols.append(expr.alias(out_name))
    cols.extend(F.col(k) for k in keep)
    return df.select(*cols)
