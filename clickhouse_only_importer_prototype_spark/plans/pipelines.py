"""End-to-end pipelines mirroring the reference CLI modes.

Modes (cmd/cli/main.go:46-105): convert-cna, convert-cna-with-derived,
convert-mutations, combine-cna, combine-cna-with-derived,
combine-mutations.

Dataflow parity (SURVEY §2.10):
  * D1/D2 one-pass multi-sink fan-out: the reference streams each TSV
    row once, whatever the matrix width, into 2-3 concurrent parquet
    writers over Go channels. Spark restatement: ONE multi-path scan
    over every file of the run and ONE write per output table, into
    the reference's per-file layout (each row carries its file's
    output base; a staged ``partitionBy(__base)`` write is renamed to
    the reference file names). CNA rows are parsed positionally —
    ``split(value, '\\t')`` against a broadcast header manifest — so
    the plan does not grow with the sample columns;
    genetic_profile_samples is header metadata, written on the driver.
    CNA files a raw tab split would parse differently from the csv
    reader (a quote char, a header line missing or repeated) are parsed
    by the csv reader and projected to the same positional rows, so
    every file takes the one transform and the one write per table.
  * D3 event-id threading across files: subsumed by the prefix-sum id
    assigner over all files at once (operators/mutation.py) — the
    sequential file loop disappears.
  * D4 per-file error isolation: mutations probe every file, write the
    healthy ones in the grouped job and replay the failures (every
    file, if the grouped job itself fails) through the per-file writer,
    reporting a failure manifest; CNA aborts on the first failure —
    matching cna/transformer.go:30-45 vs mutation/transformer.go:37-73.
  * U1 combine: multi-path parquet read (union-all, duplicates kept)
    with one streaming write — the reference materializes each whole
    table in memory (cna/reader_parquet.go:60-64); Spark never does.
    Reader errors fail loud (intentional fix of :132-137). Each combine
    output carries a ``_COMBINED`` marker so neither load-clickhouse nor
    a later combine reads its rows next to the per-file outputs they
    came from.
"""

from __future__ import annotations

import glob as _glob
import logging
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from clickhouse_only_importer_prototype_spark.localframe import arrow_local_df
from clickhouse_only_importer_prototype_spark.operators import cna as cna_ops
from clickhouse_only_importer_prototype_spark.operators import mutation as mut_ops
from clickhouse_only_importer_prototype_spark.sinks.parquet import write_parquet
from clickhouse_only_importer_prototype_spark.sources.discovery import (
    discover_cna_files,
    discover_mutation_files,
)
from clickhouse_only_importer_prototype_spark.sources.tsv import (
    read_cna_matrix,
    read_maf,
)

logger = logging.getLogger(__name__)


# Characters java.net.URI leaves RAW in a path component (what
# Hadoop's Path/input_file_name actually emits): unreserved
# "_-!.~'()*" + punct ",;:$&+=" + "/@". Python's Path.as_uri()
# percent-encodes the sub-delims (= ! $ & ...) and would mismatch
# the scan tag for any filename containing one (verified empirically:
# the scan reports "x=y.txt", as_uri says "x%3Dy.txt").
_JAVA_URI_PATH_SAFE = "/!'()*,;:$&+=@-_.~"


def _spark_file_uri(path: str) -> str:
    """The URI ``input_file_name()`` reports for a local file:
    absolute, percent-encoded per java.net.URI path rules, NOT
    symlink-resolved. Spark's scan never calls realpath, so building
    manifest keys with ``Path.resolve()`` would make every file under
    a symlinked tsv_dir miss the broadcast manifest (guard failure) —
    abspath normalizes without resolving, matching the scan's own
    view. Non-ASCII chars stay raw like java.net.URI.toString()."""
    from urllib.parse import quote

    p = os.path.abspath(path)
    encoded = "".join(
        c if ord(c) > 0x7F else quote(c, safe=_JAVA_URI_PATH_SAFE)
        for c in p
    )
    return "file://" + encoded


def output_base(tsv_path: str, parquet_dir: str) -> str:
    """``<studyDir>_<file>`` naming (cna/transformer.go:266-297)."""
    study_dir = os.path.basename(os.path.dirname(tsv_path))
    stem = os.path.basename(tsv_path)
    for suffix in (".txt", ".tsv"):
        if stem.endswith(suffix):
            stem = stem[: -len(suffix)]
    return os.path.join(parquet_dir, f"{study_dir}_{stem}")


@dataclass
class RunSummary:
    processed: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.failed


def convert_cna(
    spark: SparkSession,
    tsv_dir: str,
    parquet_dir: str,
    with_derived: bool = False,
) -> RunSummary:
    """convert-cna[-with-derived] (cmd/cli/main.go:111-151) into the
    reference's per-file layout ``<studyDir>_<stem>_{genetic_alterations,
    genetic_profile_samples[,derived]}.parquet`` (cna/transformer.go:
    266-297).

    Every matrix becomes the same positional rows (_cna_single_job_scan:
    one multi-path text scan, plus a csv parse of the files a tab split
    would misread), so the plan is the same size at 8 or 10,000 sample
    columns. genetic_alterations and derived are each built once and
    written once for all files (_write_per_base).
    genetic_profile_samples is header metadata with exactly one row per
    file, written driver-side by pyarrow: a Spark job per 1-row frame
    costs seconds each. Zero-data-row matrices get schema-only
    alterations/derived parquet and their sample-list row
    (cna/transformer.go:498-508).

    CNA posture: abort on first failure (cna/transformer.go:30-45) — an
    empty file, a missing header, a duplicate output base or a failed
    write raises. Row parity with the per-file csv writer of the wide
    operators (operators/cna.py) is pinned by test."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq
    from pyspark.sql import functions as F

    inputs = discover_cna_files(tsv_dir)
    logger.info("found %d CNA files", len(inputs))
    os.makedirs(parquet_dir, exist_ok=True)
    _check_unique_bases("convert_cna", inputs)
    if not inputs:
        return RunSummary()
    gps_rows, data = _cna_single_job_scan(spark, inputs)
    sample_slice = F.slice(
        F.col("__cells"), cna_ops.FIRST_SAMPLE_IDX + 1, F.col("__n")
    )
    gene = F.coalesce(F.col("__cells")[0], F.lit(""))
    ga = data.select(
        "__base",
        F.col("__study").alias("CANCER_STUDY"),
        F.col("__profile").alias("GENETIC_PROFILE"),
        gene.alias("GENE_SYMBOL"),
        F.array_join(sample_slice, ",").alias("VALUES"),
    )
    tables = [("genetic_alterations", ga, ["GENE_SYMBOL", "VALUES"])]
    if with_derived:
        exploded = data.select(
            "__base",
            "__study",
            "__profile",
            "__sample_ids",
            gene.alias("__gene"),
            F.posexplode(sample_slice).alias("__pos", "__alt"),
        )
        derived = exploded.select(
            "__base",
            F.element_at(
                F.col("__sample_ids"), F.col("__pos") + 1
            ).alias("SAMPLE_ID"),
            F.col("__study").alias("CANCER_STUDY"),
            F.col("__gene").alias("GENE_SYMBOL"),
            F.col("__profile").alias("GENETIC_PROFILE"),
            F.col("__alt").alias("ALTERATION"),
        )
        # ALTERATION in the sort key: a duplicated gene row with
        # different values would otherwise tie on (gene, sample) and
        # leave file byte-order run-dependent
        tables.append(
            ("derived", derived, ["GENE_SYMBOL", "SAMPLE_ID", "ALTERATION"])
        )
    bases = [output_base(it.path, "") for it in inputs]
    _write_per_base(spark, tables, bases, parquet_dir, ".grouped_staging_cna")
    gps_schema = pa.schema(
        [
            pa.field(n, pa.string())
            for n in ("CANCER_STUDY", "GENETIC_PROFILE", "ORDERED_SAMPLE_LIST")
        ]
    )
    for base, row in zip(bases, gps_rows):
        dest = os.path.join(
            parquet_dir, f"{base}_genetic_profile_samples.parquet"
        )
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        pa_pq.write_table(
            pa.Table.from_pylist([dict(zip(gps_schema.names, row))], gps_schema),
            os.path.join(dest, "part-00000.parquet"),
        )
    return RunSummary(processed=[it.path for it in inputs])


def _write_mutation_outputs(
    spark: SparkSession,
    item,
    parquet_dir: str,
    start: int,
) -> int:
    """The per-file mutation write: read the MAF, assign ids from
    ``start``, write both outputs as ONE part file each. convert_mutations
    replays failed files through here; the parity tests use it as the
    reference layout. Returns the next free id (an empty MAF keeps the
    counter unchanged — must not reset). On failure, partial outputs
    are removed (a stale mutation_event parquet would enter the combine
    glob with an id range another file may legitimately hold) and the
    error re-raised; the cached frame is unpersisted on EVERY path so a
    failed file never pins executor storage for the session."""
    base = output_base(item.path, parquet_dir)
    out_paths = (f"{base}_mutation_event.parquet", f"{base}_mutation.parquet")
    try:
        df = read_maf(spark, item.path)
        with_ids = mut_ops.with_sequential_ids(df, start=start).persist()
        try:
            write_parquet(
                mut_ops.mutation_event(with_ids), out_paths[0], single_file=True
            )
            write_parquet(
                mut_ops.mutation(
                    with_ids, item.cancer_study_id, item.genetic_profile_id
                ),
                out_paths[1],
                single_file=True,
            )
            return mut_ops.next_event_id(with_ids, start=start)
        finally:
            with_ids.unpersist()
    except Exception:
        for p in out_paths:
            shutil.rmtree(p, ignore_errors=True)
        raise


def _probe_maf_counts(
    spark: SparkSession, inputs: list, failed: dict[str, str]
) -> dict[str, int]:
    """Probe phase of convert_mutations: one column-pruned count scan
    per file, on driver threads (the jobs are independent and their
    cost is per-job scheduling, not data). It is the read the per-file
    writer performs, so a probe failure IS a per-file read failure: the
    file lands in ``failed`` and consumes no ids."""
    from concurrent.futures import ThreadPoolExecutor

    counts: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [
            (it, pool.submit(lambda p: read_maf(spark, p).count(), it.path))
            for it in inputs
        ]
        for item, fut in futures:
            try:
                counts[item.path] = fut.result()
            except Exception as exc:  # noqa: BLE001 — D4 isolation
                logger.error("failed to read %s: %s", item.path, exc)
                failed[item.path] = str(exc)
    return counts


def convert_mutations(
    spark: SparkSession,
    tsv_dir: str,
    parquet_dir: str,
    start_event_id: int = 0,
) -> RunSummary:
    """convert-mutations (cmd/cli/main.go:396-424) into the reference's
    per-file layout ``<studyDir>_<stem>_mutation[_event].parquet``, with
    per-file failure isolation (D4, mutation/transformer.go:37-73).

    Event ids are dense and gapless across all files in discovery order
    (prefix-sum assigner) — the reference's sequential id threading
    without the sequential execution. Three phases:

      1. **Probe** — _probe_maf_counts. Failing files go to the failure
         manifest (``RunSummary.failed``) and consume no ids, as in a
         per-file loop.
      2. **Grouped write** — the healthy files as one plan
         (_write_mutations_grouped): one scan per header group, one
         shuffle and one write per table, whatever the file count.
      3. **Replay** — each failed file retried through the per-file
         writer (_write_mutation_outputs; partial outputs removed on
         failure). A deterministic failure stays in the manifest; a
         transient one recovers and takes ids PAST the healthy range
         (unique and ordered, gapless within each phase) — splicing it
         back into discovery order would rewrite every later file.

    If the grouped write itself raises, every file is replayed through
    the per-file writer in discovery order from ``start_event_id``, so a
    file that poisons the grouped job costs only its own outputs and
    the ids are those of a per-file loop. Duplicate output bases are
    refused up front (a replayed file must never clobber a healthy
    output). Returns the processed files and the failure manifest."""
    inputs = discover_mutation_files(tsv_dir)
    logger.info("found %d mutation files", len(inputs))
    summary = RunSummary()
    os.makedirs(parquet_dir, exist_ok=True)
    _check_unique_bases("convert_mutations", inputs)
    counts = _probe_maf_counts(spark, inputs, summary.failed)
    healthy = [it for it in inputs if it.path in counts]
    replay = [it for it in inputs if it.path in summary.failed]
    next_id = start_event_id + sum(counts.values())
    if healthy:
        try:
            _write_mutations_grouped(spark, healthy, parquet_dir, start_event_id)
            summary.processed = [it.path for it in healthy]
        except Exception:  # noqa: BLE001 — D4 isolation
            logger.exception(
                "grouped mutation write failed; replaying every file"
                " through the per-file writer"
            )
            replay, next_id = inputs, start_event_id
            summary.failed.clear()
    for item in replay:  # discovery order, deterministic replay ids
        try:
            next_id = _write_mutation_outputs(spark, item, parquet_dir, next_id)
        except Exception as exc:  # noqa: BLE001 — D4 isolation
            logger.error("failed to process %s: %s", item.path, exc)
            summary.failed[item.path] = str(exc)
            continue
        summary.failed.pop(item.path, None)
        summary.processed.append(item.path)
    summary.processed.sort()
    if summary.failed:
        logger.error(
            "%d/%d mutation files failed: %s",
            len(summary.failed),
            len(inputs),
            sorted(summary.failed),
        )
    return summary


def _cna_single_job_scan(
    spark: SparkSession, inputs: list
) -> tuple[list[tuple], DataFrame]:
    """The rows of convert_cna: driver-side header parse (manifest +
    per-study sample lists), ONE multi-path ``spark.read.text`` scan,
    broadcast attribution join, a guard aggregation, and positional
    cell parsing.

    Why positional: a CNA header is per-study, so a csv plan is too,
    and a union of per-study csv plans (one scan node and codegen unit
    per branch) measured 533.9s at 1,000 studies. ``split(value,
    '\\t')`` + slice/array_join/posexplode never let the header reach
    the plan: one text scan took 42.6s for the same studies. Sample
    names come from sources.tsv.header_line_and_names, the csv reader's
    own header normalization.

    A raw tab split parses some files differently from the csv reader:
    a quote char in any line (the csv reader applies quote='"'), or a
    header line that is unparseable or does not occur exactly once
    (header rows are removed by byte-match, and the csv reader keeps a
    repeated header row as data). The csv reader (read_cna_matrix)
    parses those, and each is projected to the same row shape: all its
    columns in ONE ``transform(array(*), ...)`` expression and its
    sample ids in one JSON literal, so no plan node grows with the
    sample columns. Each such file adds a scan branch to the union —
    the route for the odd file, not for a corpus.

    Returns ``(gps_rows, data)`` for ``inputs`` in discovery order.
    ``data`` carries one row per data line with
    __study/__profile/__base/__sample_ids/__n/__cells; ``gps_rows``
    holds one (study, profile, ordered_sample_list) per input."""
    import json

    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sources.tsv import (
        header_line_and_names,
    )

    def ids_of(item, names):
        return [
            f"{item.cancer_study_id}_{c}"
            for c in names[cna_ops.FIRST_SAMPLE_IDX:]
        ]

    csv_paths: set[str] = set()
    manifest: dict[str, tuple] = {}  # path -> manifest row
    for item in inputs:
        parsed = header_line_and_names(item.path)
        if parsed is None:  # quoted or empty header
            csv_paths.add(item.path)
            continue
        raw, names = parsed
        manifest[item.path] = (
            _spark_file_uri(item.path),
            item.cancer_study_id,
            item.genetic_profile_id,
            output_base(item.path, ""),
            raw,
            ids_of(item, names),
        )
    frames: list[DataFrame] = []
    scanned = [it.path for it in inputs if it.path not in csv_paths]
    if scanned:
        mf = arrow_local_df(
            spark,
            list(manifest.values()),
            "__file string, __study string, __profile string,"
            " __base string, __header string, __sample_ids array<string>",
        )
        tagged = (
            spark.read.text(scanned)
            .select(F.col("value"), F.input_file_name().alias("__file"))
            .join(F.broadcast(mf), "__file", "left")
        )
        is_header = F.col("value") == F.col("__header")
        # guard pass, before anything is written: every scanned line must
        # be attributed to a manifest file; per file, count header matches
        # and lines containing the csv quote char
        flagged = (
            tagged.groupBy("__file")
            .agg(
                F.sum(is_header.cast("int")).alias("n_hdr"),
                F.max(F.col("__study").isNull().cast("int")).alias("n_miss"),
                F.sum(F.col("value").contains('"').cast("int")).alias("n_quote"),
            )
            .where(
                (F.col("n_hdr") != 1)
                | (F.col("n_miss") > 0)
                | (F.col("n_quote") > 0)
            )
            .collect()
        )
        unattributed = [r["__file"] for r in flagged if r["n_miss"]]
        if unattributed:
            raise ValueError(
                "single-scan CNA plan: scan file(s) missing from the header"
                f" manifest: {unattributed[:5]}"
            )
        if flagged:
            uris = [r["__file"] for r in flagged]
            csv_paths |= {p for p in scanned if _spark_file_uri(p) in uris}
            tagged = tagged.where(~F.col("__file").isin(uris))
        n_samples = F.size("__sample_ids")
        parts = F.split(F.col("value"), "\t")
        # csv parity: the csv reader drops every line that Java's
        # String.trim() empties (all chars <= U+0020, tabs included;
        # text keeps them), yields NULL (-> '') for the missing cells of
        # a short row and drops fields beyond the header; padding
        # (array_repeat of a negative count is empty), then slicing to
        # the header width, reproduces both
        padded = F.concat(
            parts,
            F.array_repeat(
                F.lit(""), n_samples + cna_ops.FIRST_SAMPLE_IDX - F.size(parts)
            ),
        )
        frames.append(
            tagged.where(
                ~is_header & ~F.col("value").rlike(r"^[\x00-\x20]*$")
            ).select(
                "__study",
                "__profile",
                "__base",
                "__sample_ids",
                n_samples.alias("__n"),
                padded.alias("__cells"),
            )
        )
    logger.info(
        "single-scan CNA plan: %d files, %d via csv",
        len(inputs) - len(csv_paths),
        len(csv_paths),
    )
    sample_ids = {path: row[5] for path, row in manifest.items()}
    every_cell = F.expr("transform(array(*), x -> coalesce(x, ''))")
    for item in inputs:
        if item.path not in csv_paths:
            continue
        df = read_cna_matrix(spark, item.path)
        if not df.columns:
            raise ValueError(f"convert_cna: no header in {item.path}")
        ids = sample_ids[item.path] = ids_of(item, df.columns)
        frames.append(
            df.select(
                F.lit(item.cancer_study_id).alias("__study"),
                F.lit(item.genetic_profile_id).alias("__profile"),
                F.lit(output_base(item.path, "")).alias("__base"),
                F.from_json(F.lit(json.dumps(ids)), "array<string>").alias(
                    "__sample_ids"
                ),
                F.lit(len(ids)).alias("__n"),
                every_cell.alias("__cells"),
            )
        )
    gps_rows = [
        (it.cancer_study_id, it.genetic_profile_id, ",".join(sample_ids[it.path]))
        for it in inputs
    ]
    return gps_rows, _balanced_union(frames)


def _write_per_base(
    spark: SparkSession,
    tables: list[tuple[str, DataFrame, list[str]]],
    bases: list[str],
    parquet_dir: str,
    staging_name: str,
) -> None:
    """Write each ``(suffix, df, sort_cols)`` table ONCE into the
    reference's per-file layout ``<base>_<suffix>.parquet``; ``df``
    carries each row's output base in ``__base``. ``repartition(n,
    __base)`` confines each file's rows to one task, so every output is
    one part file like the per-file writer's ``coalesce(1)``;
    ``sortWithinPartitions`` makes file content order deterministic. A
    staged ``partitionBy(__base)`` write plus a driver rename pass
    (_promote_partition_dirs) lands the reference names: one shuffle
    and one write stage per table, whatever the file count. The staging
    dir is removed on every path."""
    staging = os.path.join(parquet_dir, staging_name)
    shutil.rmtree(staging, ignore_errors=True)
    nparts = max(1, min(len(bases), spark.sparkContext.defaultParallelism * 4))
    try:
        for suffix, df, sort_cols in tables:
            stage_dir = os.path.join(staging, suffix)
            write_parquet(
                df.repartition(nparts, "__base").sortWithinPartitions(
                    "__base", *sort_cols
                ),
                stage_dir,
                partition_by=["__base"],
            )
            _promote_partition_dirs(
                stage_dir,
                parquet_dir,
                bases,
                suffix,
                _arrow_schema_without_base(df),
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _maf_header_sig(path: str) -> str:
    """First non-``#`` line of a MAF — the csv header. Driver-side
    single-line read (one fs open per file, no Spark job): multi-path
    csv scans apply the FIRST file's header to every file, so the
    grouped write may only batch files whose headers are identical."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            if not line.startswith("#"):
                return line.rstrip("\r\n")
    return ""


def _balanced_union(dfs: list[DataFrame]) -> DataFrame:
    """Pairwise unionByName — a log-depth plan tree instead of a
    left-deep chain (matters when unioning one frame per header
    group)."""
    while len(dfs) > 1:
        dfs = [
            dfs[i].unionByName(dfs[i + 1]) if i + 1 < len(dfs) else dfs[i]
            for i in range(0, len(dfs), 2)
        ]
    return dfs[0]


def _write_mutations_grouped(
    spark: SparkSession,
    inputs: list,
    parquet_dir: str,
    start_event_id: int,
) -> None:
    """Grouped write of convert_mutations: ``inputs`` (non-empty,
    discovery order) as one plan, each table written once into the
    per-file layout (_write_per_base). Files are grouped by header
    signature (Spark's multi-path csv scan applies the first file's
    header to every file, so only same-header files may share a scan);
    ids are corpus-wide and sequential in DISCOVERY order
    (with_sequential_ids_multi + URI->rank map); per-file
    study/profile/output base join from a broadcast manifest keyed by
    the scan's file URI. A scan file missing from the manifest raises
    mid-plan (fail loud, never silently unattributed). Files with zero
    data rows get schema-only outputs, as the per-file writer's empty
    write would; a file left out of ``inputs`` consumes no ids, as a
    failed read does in a per-file loop. All-or-nothing:
    convert_mutations owns per-file isolation."""
    from pyspark.sql import functions as F

    groups: dict[str, list] = {}
    for item in inputs:
        groups.setdefault(_maf_header_sig(item.path), []).append(item)
    frames = [
        read_maf(spark, [it.path for it in g]) for g in groups.values()
    ]
    # global id order = DISCOVERY order (what a per-file loop
    # iterates), carried by a URI->rank map: sorting the scan's
    # percent-encoded URIs lexicographically could permute exotic
    # filenames ('a b' -> 'a%20b') relative to the raw paths
    file_order = {
        _spark_file_uri(it.path): i for i, it in enumerate(inputs)
    }
    ranked = mut_ops.with_sequential_ids_multi(
        frames, start=start_event_id, file_order=file_order
    )
    mf = arrow_local_df(
        spark,
        [
            (
                _spark_file_uri(it.path),
                it.cancer_study_id,
                it.genetic_profile_id,
                output_base(it.path, ""),
            )
            for it in inputs
        ],
        "__file string, __study string, __profile string, __base string",
    )
    missing = F.raise_error(
        F.concat_ws(
            " ",
            F.lit("grouped mutations write: scan file missing from manifest:"),
            F.col("__file"),
        )
    ).cast("string")
    joined_frames = [
        r.join(F.broadcast(mf), "__file", "left").withColumn(
            "__study",
            F.when(F.col("__study").isNull(), missing).otherwise(
                F.col("__study")
            ),
        )
        for r in ranked
    ]
    ev_all = _balanced_union(
        [mut_ops.mutation_event(j, keep=("__base",)) for j in joined_frames]
    )
    mut_all = _balanced_union(
        [
            mut_ops.mutation(
                j, F.col("__study"), F.col("__profile"), keep=("__base",)
            )
            for j in joined_frames
        ]
    )
    _write_per_base(
        spark,
        [
            ("mutation_event", ev_all, [mut_ops.EVENT_ID]),
            ("mutation", mut_all, [mut_ops.EVENT_ID]),
        ],
        [output_base(it.path, "") for it in inputs],
        parquet_dir,
        ".grouped_staging",
    )


def _check_unique_bases(mode: str, inputs: list) -> None:
    """Per-file output bases of the per-file layout; raises up front if
    two inputs collide onto one ``<studyDir>_<stem>`` (a per-file loop
    would silently let the later write clobber the earlier one)."""
    from collections import Counter

    bases = [output_base(it.path, "") for it in inputs]
    dup = {b for b, n in Counter(bases).items() if n > 1}
    if dup:
        raise ValueError(
            f"{mode}: multiple inputs map to the same output base(s)"
            f" {sorted(dup)[:5]} — the per-study layout cannot"
            " represent both"
        )


def _promote_partition_dirs(
    stage_dir: str,
    parquet_dir: str,
    bases: list[str],
    suffix: str,
    empty_schema,
) -> None:
    """Driver-side rename pass of _write_per_base: move each
    ``__base=<v>`` partition dir of a staged partitionBy write to the
    reference's ``<base>_<suffix>.parquet`` name. Dir names carry
    Spark's %XX partition-value escaping (urllib unquote reverses).
    Bases with no partition dir (zero-data-row inputs) get a schema-
    only parquet written via pyarrow — milliseconds, vs ~5s per tiny
    frame through the Python local-relation write path (the round-8
    finding). A staged dir matching no input raises: silent output
    loss is never acceptable here.

    Scale note (round-10 verdict): this pass is driver-serial — one
    ``os.rename`` per output, ~zero cost to N=1,000 (measured inside
    the 42.7s grouped run) but the bottleneck at N~100k studies; if
    that shape ever materializes, thread-pool the renames (they are
    independent same-filesystem moves) or commit the mapping to a
    catalog instead of materializing reference filenames."""
    from urllib.parse import unquote

    import pyarrow.parquet as pa_pq

    found = {}
    for d in os.listdir(stage_dir):
        if d.startswith("__base="):
            found[unquote(d[len("__base=") :])] = os.path.join(stage_dir, d)
    for base in bases:
        dest = os.path.join(parquet_dir, f"{base}_{suffix}.parquet")
        shutil.rmtree(dest, ignore_errors=True)
        src = found.pop(base, None)
        if src is not None:
            os.rename(src, dest)
        else:
            os.makedirs(dest, exist_ok=True)
            pa_pq.write_table(
                empty_schema.empty_table(),
                os.path.join(dest, "part-00000-empty.parquet"),
            )
    if found:
        raise RuntimeError(
            "per-file layout: staging produced partition dirs with no"
            f" matching input: {sorted(found)[:5]}"
        )


def _arrow_schema_without_base(df: DataFrame):
    """pyarrow schema of a grouped frame minus the __base tag (all
    columns string except bigint ids) — for schema-only outputs."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                f.name,
                pa.int64()
                if f.dataType.simpleString() == "bigint"
                else pa.string(),
            )
            for f in df.schema.fields
            if f.name != "__base"
        ]
    )


def load_clickhouse(
    spark: SparkSession,
    parquet_dir: str,
    url: str,
    user: str | None = None,
    password: str | None = None,
) -> dict[str, int]:
    """convert -> load: the deployment tail of the S9 north star over
    the jar-free HTTP interface. For each catalog kind, first run its
    catalog DDL (MergeTree CREATE TABLE IF NOT EXISTS from
    sinks.clickhouse.catalog_ddl) driver-side, then union-all every
    per-file output ``*_<kind>.parquet`` under ``parquet_dir`` in one
    multi-path scan and bulk-insert it as JSONEachRow with
    ``write_clickhouse_http`` — one distributed job per table.

    Combine outputs (``_is_combined``) are skipped: they repeat the rows
    of the per-file outputs next to them, so loading both would insert
    every row twice. Returns {table: rows_sent} for every kind that had
    per-file outputs."""
    from clickhouse_only_importer_prototype_spark.schemas import ALL_TABLES
    from clickhouse_only_importer_prototype_spark.sinks.clickhouse import (
        catalog_ddl,
    )
    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        execute_clickhouse_http,
        write_clickhouse_http,
    )

    ddls = catalog_ddl()
    counts: dict[str, int] = {}
    for kind in ALL_TABLES:
        paths, skipped = [], []
        for p in sorted(
            _glob.glob(os.path.join(parquet_dir, f"*_{kind}.parquet"))
        ):
            (skipped if _is_combined(p) else paths).append(p)
        if skipped:
            logger.info(
                "not loading combine output(s) %s into %s",
                [os.path.basename(p) for p in skipped],
                kind,
            )
        if not paths:
            continue
        execute_clickhouse_http(url, ddls[kind], user, password)
        df = spark.read.parquet(*paths)
        counts[kind] = write_clickhouse_http(
            df, url, kind, user=user, password=password
        )
        logger.info(
            "loaded %d rows from %d file(s) into %s",
            counts[kind],
            len(paths),
            kind,
        )
    return counts


# Marker file combine_parquet leaves in each output dir. Parquet readers
# skip names starting with '_', so it never reaches a scan.
COMBINED_MARKER = "_COMBINED"


def _is_combined(path: str) -> bool:
    """A combine output: it holds COMBINED_MARKER, or is named
    ``combined*`` (the default -output, which the reference's combine
    writes with no marker)."""
    return os.path.basename(path).startswith("combined") or os.path.exists(
        os.path.join(path, COMBINED_MARKER)
    )


def combine_parquet(spark: SparkSession, pattern: str, output_path: str) -> int:
    """U1 union-all by glob (cna/reader_parquet.go:86-143), written as
    one file plus the COMBINED_MARKER that load_clickhouse skips on.

    Duplicate-preserving: multi-path parquet scan IS union-all. Every
    earlier combine output is left out of the input, not only this
    call's own output as in the reference (cmd/cli/main.go:101-108):
    a second combine with another -output would otherwise fold the
    first one's rows in again. Returns the number of input files
    combined. Fails loud on reader errors — an intentional fix of the
    reference's silent truncation (:132-137).
    """
    paths, skipped = [], []
    for p in sorted(_glob.glob(pattern)):
        if os.path.abspath(p) != os.path.abspath(output_path):
            (skipped if _is_combined(p) else paths).append(p)
    if skipped:
        logger.info(
            "not combining earlier combine output(s) %s",
            [os.path.basename(p) for p in skipped],
        )
    if not paths:
        logger.warning("no files matched %s", pattern)
        return 0
    df: DataFrame = spark.read.parquet(*paths)
    write_parquet(df, output_path, single_file=True)
    open(os.path.join(output_path, COMBINED_MARKER), "w").close()
    return len(paths)


# Reference default for the -output flag (cmd/cli/main.go:59-63).
DEFAULT_COMBINE_OUTPUT = "combined-all-cna.parquet"


def combined_output_base(parquet_dir: str, output: str) -> str:
    """Combined-output base path, reference derivation
    (cmd/cli/main.go:198-237 generateCombinedOutputPaths[WithDerived],
    :561-579 generateCombinedMutationOutputPaths): an absolute output
    is used as-is, a relative one is joined with parquet_dir; a
    trailing ``.parquet`` suffix is stripped. Each table kind's file is
    then ``<base>_<kind>.parquet``."""
    base = output if os.path.isabs(output) else os.path.join(parquet_dir, output)
    if base.endswith(".parquet"):
        base = base[: -len(".parquet")]
    return base


def combine_cna(
    spark: SparkSession,
    parquet_dir: str,
    with_derived: bool = False,
    output: str = DEFAULT_COMBINE_OUTPUT,
) -> dict[str, int]:
    """combine-cna[-with-derived] (cmd/cli/main.go:153-196)."""
    kinds = ["genetic_alterations", "genetic_profile_samples"]
    if with_derived:
        kinds.append("derived")
    base = combined_output_base(parquet_dir, output)
    out = {}
    for kind in kinds:
        pattern = os.path.join(parquet_dir, f"*_{kind}.parquet")
        out[kind] = combine_parquet(spark, pattern, f"{base}_{kind}.parquet")
    return out


def combine_mutations(
    spark: SparkSession,
    parquet_dir: str,
    output: str = DEFAULT_COMBINE_OUTPUT,
) -> dict[str, int]:
    """combine-mutations (cmd/cli/main.go:538-559)."""
    base = combined_output_base(parquet_dir, output)
    out = {}
    for kind in ("mutation_event", "mutation"):
        pattern = os.path.join(parquet_dir, f"*_{kind}.parquet")
        out[kind] = combine_parquet(spark, pattern, f"{base}_{kind}.parquet")
    return out
