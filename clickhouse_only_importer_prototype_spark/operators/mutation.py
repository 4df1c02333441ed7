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
two-pass prefix-sum — (1) per (file, scan partition), count the rows
and take their first ``monotonically_increasing_id`` (an aggregate,
metadata-sized result), (2) map-side, each row's id is its segment's
broadcast offset plus its distance from that first id. No shuffle, no
window and no sort: the rank pass is the scan itself. The reference's
own file order is nondeterministic (Go map iteration,
cmd/cli/main.go:309,496); we define sorted-path order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from clickhouse_only_importer_prototype_spark.functions import ns, underscore_join
from clickhouse_only_importer_prototype_spark.localframe import arrow_local_df
from clickhouse_only_importer_prototype_spark.schemas import (
    MUTATION_COLUMNS,
    MUTATION_EVENT_COLUMNS,
)

_FILE = "__file"
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


def _rank_with_offsets(
    tagged: DataFrame, offsets: list[tuple], file_schema: str
) -> DataFrame:
    """Rank pass over a ``_tagged_scan`` frame with driver-computed
    (file, pid, offset, expected-count, first-mid, *file values) rows:
    a row's id is its file segment's offset plus its distance from the
    segment's first ``__mid``; it also gains its file's
    ``file_schema`` columns. Map-side — no window, exchange or sort;
    the drift guard raises mid-plan on any packing change (see
    with_sequential_ids_multi)."""
    schema = (
        f"{_FILE} string, __pid int, __offset long, __expect long,"
        " __min_mid long"
    )
    if file_schema:
        schema += ", " + file_schema
    offsets_df = arrow_local_df(tagged.sparkSession, offsets, schema)
    pos = F.col("__mid") - F.col("__min_mid")
    # left join so a partition the counts pass never saw surfaces as a
    # null expectation (raise) instead of vanishing through an inner join
    guard_ok = F.col("__expect").isNotNull() & (pos >= 0) & (
        pos < F.col("__expect")
    )
    return (
        tagged.join(F.broadcast(offsets_df), [_FILE, "__pid"], "left")
        .withColumn(
            EVENT_ID,
            F.when(guard_ok, F.col("__offset") + pos)
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
        .drop("__pid", "__mid", "__offset", "__expect", "__min_mid")
    )


def with_sequential_ids_multi(
    frames: list[DataFrame],
    start: int = 0,
    files: dict[str, tuple] | None = None,
    file_schema: str = "",
) -> tuple[list[DataFrame], dict[str, int]]:
    """Gapless ids ACROSS several scan frames in one global
    (file, partition) order — the grouped D3 shape. Returns the ranked
    frames and each scanned file's row count from the counts pass, keyed
    by scan URI (the next free id is ``start`` plus their sum; a file
    with no rows is absent and consumes no ids).

    Heterogeneous MAF headers force one csv scan per header group
    (Spark applies the first file's header to every file of a
    multi-path scan), but the id contract is corpus-wide: counts are
    collected per frame (one metadata-scale job each), prefix-summed
    TOGETHER in one global file order, and each frame ranks with
    its broadcast offsets — byte-identical ids to the sequential
    per-file loop, with every heavy pass running as a distributed
    scan. Output frames KEEP the ``__file`` tag.

    ``files`` maps each scan file URI (``input_file_name()`` form), in
    the caller's processing order, to its values of ``file_schema``'s
    columns (a DDL string): ids follow that order, and each row gains
    its file's values from the offsets broadcast, with no second join.
    The sequential loop iterates files in DISCOVERY order over raw
    paths; the scan tag is a percent-ENCODED URI, so sorting the URIs
    lexicographically can permute files whose raw paths contain
    characters that encode (``'a b' -> 'a%20b'``) — the caller must
    pass the discovery order explicitly for the byte-identical-ids
    contract to survive exotic filenames. ``None`` falls back to
    lexicographic URI order (only correct when every path is
    encoding-invariant); a scanned URI absent from the map raises
    rather than silently mis-ordering or going unattributed.

    Ranking is map-side and partition-parallel: ``__mid``
    (monotonically_increasing_id) encodes ``partition_id << 33 +
    row_offset``, so it is consecutive within a scan partition, and a
    file's rows are one contiguous segment of each FilePartition that
    holds them. The counts pass collects ``count`` and ``min(__mid)``
    per (file, scan partition); the driver prefix-sums the counts in
    (file, partition) order, and a row's id is its segment's offset plus
    ``__mid - min(__mid)`` — byte-identical to a per-file global rank,
    with no shuffle: a single 100 GB MAF ranks in every scan split at
    once. No persist: the counts are recompute-invariant, and a pinned
    full-MAF cache per file would leak for the session lifetime.

    ASSUMPTION (load-bearing): ``__pid``/``__mid`` are identical across
    the counts pass and the rank pass. True when both evaluate the same
    plan over unchanged files — FilePartition packing is a stable sort
    of splits — but a scan-conf change between the passes (AQE
    coalesce, ``spark.sql.files.maxPartitionBytes``) would repartition
    the second scan. Rather than silently permuting ids, the rank pass
    raises mid-plan on a row whose (file, partition) the counts pass
    never saw, or whose position lies outside ``[0, count)``. A file's
    row total is fixed, so a repacking either moves a segment's start
    (rows fall out of range), grows a segment past its count, or makes
    a segment the counts pass never saw. A file whose CONTENT changes
    between the passes can pass this guard (a dropped last row keeps
    every position in range): callers compare the rows they wrote with
    the returned counts."""
    taggeds = [_tagged_scan(f) for f in frames]
    all_counts: list[tuple] = []
    for i, t in enumerate(taggeds):
        for row in (
            t.groupBy(_FILE, "__pid")
            .agg(F.count("*").alias("n"), F.min("__mid").alias("m"))
            .collect()
        ):
            all_counts.append((row[_FILE], row["__pid"], row["n"], row["m"], i))
    if files is not None:
        missing = sorted({c[0] for c in all_counts if c[0] not in files})
        if missing:
            raise ValueError(
                "with_sequential_ids_multi: scan file(s) missing from "
                f"the files map: {missing[:5]}"
            )
        order = {f: i for i, f in enumerate(files)}

        def key(x):
            return (order[x[0]], x[1])

    else:
        files = {}

        def key(x):
            return (x[0], x[1])

    per_frame: list[list[tuple]] = [[] for _ in frames]
    file_rows: dict[str, int] = {}
    acc = start
    for fpath, pid, cnt, min_mid, i in sorted(all_counts, key=key):
        per_frame[i].append(
            (fpath, pid, acc, cnt, min_mid, *files.get(fpath, ()))
        )
        file_rows[fpath] = file_rows.get(fpath, 0) + cnt
        acc += cnt
    return [
        _rank_with_offsets(t, per_frame[i], file_schema)
        for i, t in enumerate(taggeds)
    ], file_rows


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
    write carries them per file on the id offsets broadcast); string
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
