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
  * D4 per-file error isolation: mutations are written in one grouped
    plan; if it raises, every file is converted on its own through the
    same writer in discovery order (the reference's per-file loop),
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
from collections import Counter
from collections.abc import Callable
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

    The text scan's guard rides on the first staged write: no pass runs
    only to check the files. The text-scanned files are written first
    and alone; if the guard flags a file, or a file's header already
    sent it to the csv reader, the staging is dropped and the tables are
    built and written once more with every csv-routed file, each parsed
    once, in discovery order. A run without such a file writes each
    table once.

    CNA posture: abort on first failure (cna/transformer.go:30-45) — an
    empty file, a missing header, a duplicate output base, an
    unattributed scan line or a failed write raises. Row parity with the
    per-file csv writer of the wide operators (operators/cna.py) is
    pinned by test."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from clickhouse_only_importer_prototype_spark.sources.tsv import (
        header_line_and_names,
    )

    inputs = discover_cna_files(tsv_dir)
    logger.info("found %d CNA files", len(inputs))
    os.makedirs(parquet_dir, exist_ok=True)
    _check_unique_bases("convert_cna", inputs)
    if not inputs:
        return RunSummary()
    headers = {it.path: header_line_and_names(it.path) for it in inputs}
    csv_paths = {p for p, h in headers.items() if h is None}
    bases = [output_base(it.path, "") for it in inputs]
    staging = ".grouped_staging_cna"
    parse_csv = len(csv_paths) == len(inputs)
    while True:
        sample_ids, data, guard = _cna_single_job_scan(
            spark, inputs, headers, csv_paths, parse_csv
        )
        tables = _cna_tables(data, with_derived)
        if _write_per_base(spark, tables, bases, parquet_dir, staging, guard):
            break
        parse_csv = True
    logger.info(
        "single-scan CNA plan: %d files, %d via csv",
        len(inputs) - len(csv_paths),
        len(csv_paths),
    )
    gps_schema = pa.schema(
        [
            pa.field(n, pa.string())
            for n in ("CANCER_STUDY", "GENETIC_PROFILE", "ORDERED_SAMPLE_LIST")
        ]
    )
    for base, it in zip(bases, inputs):
        row = (
            it.cancer_study_id,
            it.genetic_profile_id,
            ",".join(sample_ids[it.path]),
        )
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


def convert_mutations(
    spark: SparkSession,
    tsv_dir: str,
    parquet_dir: str,
    start_event_id: int = 0,
) -> RunSummary:
    """convert-mutations (cmd/cli/main.go:396-424) into the reference's
    per-file layout ``<studyDir>_<stem>_mutation[_event].parquet``, with
    per-file failure isolation (D4, mutation/transformer.go:37-73).

    Every file is written in one grouped plan (_write_mutations_grouped:
    one scan per header group, one shuffle and one write per table,
    whatever the file count). If that raises, the run becomes the
    reference's own per-file loop through the same writer, in discovery
    order from ``start_event_id``: a failing file consumes no ids, lands
    in the failure manifest (``RunSummary.failed``) and loses both its
    outputs (a stale mutation_event output would enter the combine glob
    with an id range another file may hold). Either way event ids are
    dense and gapless in discovery order, a per-file loop's. Duplicate
    output bases are refused up front. Returns the processed files and
    the failure manifest."""
    inputs = discover_mutation_files(tsv_dir)
    logger.info("found %d mutation files", len(inputs))
    os.makedirs(parquet_dir, exist_ok=True)
    _check_unique_bases("convert_mutations", inputs)
    if not inputs:
        return RunSummary()
    try:
        _write_mutations_grouped(spark, inputs, parquet_dir, start_event_id)
        return RunSummary(processed=[it.path for it in inputs])
    except Exception:  # noqa: BLE001 — D4 isolation
        logger.exception("grouped mutation write failed; converting per file")
    summary, next_id = RunSummary(), start_event_id
    for item in inputs:
        try:
            next_id = _write_mutations_grouped(
                spark, [item], parquet_dir, next_id
            )
        except Exception as exc:  # noqa: BLE001 — D4 isolation
            logger.error("failed to process %s: %s", item.path, exc)
            summary.failed[item.path] = str(exc)
            base = output_base(item.path, parquet_dir)
            for suffix in ("mutation_event", "mutation"):
                shutil.rmtree(f"{base}_{suffix}.parquet", ignore_errors=True)
        else:
            summary.processed.append(item.path)
    if summary.failed:
        logger.error(
            "%d/%d mutation files failed: %s",
            len(summary.failed),
            len(inputs),
            sorted(summary.failed),
        )
    return summary


def _cna_tables(
    data: DataFrame, with_derived: bool
) -> list[tuple[str, DataFrame, list[str]]]:
    """genetic_alterations [and derived] of _cna_single_job_scan's rows,
    as _write_per_base tables."""
    from pyspark.sql import functions as F

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
    return tables


def _cna_single_job_scan(
    spark: SparkSession,
    inputs: list,
    headers: dict,
    csv_paths: set[str],
    parse_csv: bool,
) -> tuple[dict[str, list[str]], DataFrame, Callable[[str, str], bool]]:
    """The rows of convert_cna: ONE multi-path ``spark.read.text`` scan
    of every input not in ``csv_paths``, attributed by a broadcast
    header manifest (``headers``: path -> header_line_and_names), an
    observed guard, and positional cell parsing; with ``parse_csv``,
    the files of ``csv_paths`` too, through the csv reader.

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
    repeated header row as data). An unparseable header is known up
    front (``csv_paths``); the rest is found by the guard, a
    ``DataFrame.observe`` on the tagged scan (unattributed lines, header
    matches and quote-bearing lines per file) that the first action over
    ``data`` collects. The csv reader (read_cna_matrix) parses those
    files, and each is projected to the same row shape: all its columns
    in ONE ``transform(array(*), ...)`` expression and its sample ids in
    one JSON literal, so no plan node grows with the sample columns.
    Each such file adds a scan branch to the union — the route for the
    odd file, not for a corpus.

    Returns ``(sample_ids, data, guard)``. ``sample_ids`` maps each
    included path to its sample ids; ``data`` carries one row per data
    line with __study/__profile/__base/__sample_ids/__n/__cells.
    ``guard(suffix, stage_dir)`` is _write_per_base's check, run once
    ``data`` has been written: it raises on an unattributed line, adds
    the flagged files to ``csv_paths``, and returns False when the rows
    cannot stand — a file was flagged, or csv files were left out."""
    import json

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def ids_of(item, names):
        return [
            f"{item.cancer_study_id}_{c}"
            for c in names[cna_ops.FIRST_SAMPLE_IDX:]
        ]

    sample_ids: dict[str, list[str]] = {}
    manifest: list[tuple] = []
    uri_paths: dict[str, str] = {}
    for item in inputs:
        if item.path in csv_paths:
            continue
        raw, names = headers[item.path]
        sample_ids[item.path] = ids_of(item, names)
        uri_paths[_spark_file_uri(item.path)] = item.path
        manifest.append(
            (
                _spark_file_uri(item.path),
                item.cancer_study_id,
                item.genetic_profile_id,
                output_base(item.path, ""),
                raw,
                sample_ids[item.path],
            )
        )
    frames: list[DataFrame] = []
    obs = Observation() if manifest else None
    if manifest:
        mf = arrow_local_df(
            spark,
            manifest,
            "__file string, __study string, __profile string,"
            " __base string, __header string, __sample_ids array<string>",
        )
        is_header = F.col("value") == F.col("__header")

        def files_where(cond):
            return F.when(cond, F.col("__file"))

        # the guard: every scanned line must be attributed to a manifest
        # file; per file, the header matches and the lines containing
        # the csv quote char
        tagged = (
            spark.read.text(list(uri_paths.values()))
            .select(F.col("value"), F.input_file_name().alias("__file"))
            .join(F.broadcast(mf), "__file", "left")
            .observe(
                obs,
                F.collect_set(files_where(F.col("__study").isNull())).alias(
                    "miss"
                ),
                F.collect_list(files_where(is_header)).alias("hdr"),
                F.collect_set(files_where(F.col("value").contains('"'))).alias(
                    "quote"
                ),
            )
        )
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
    every_cell = F.expr("transform(array(*), x -> coalesce(x, ''))")
    for item in inputs:
        if not parse_csv or item.path not in csv_paths:
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

    def guard(suffix: str, stage_dir: str) -> bool:
        if obs is not None:
            seen = obs.get
            if seen["miss"]:
                raise ValueError(
                    "single-scan CNA plan: scan file(s) missing from the"
                    f" header manifest: {sorted(seen['miss'])[:5]}"
                )
            n_hdr = Counter(seen["hdr"])
            flagged = {u for u in uri_paths if n_hdr[u] != 1}
            flagged |= set(seen["quote"])
            if flagged:
                csv_paths.update(uri_paths[u] for u in flagged)
                return False
        return parse_csv or not csv_paths

    return sample_ids, _balanced_union(frames), guard


def _write_per_base(
    spark: SparkSession,
    tables: list[tuple[str, DataFrame, list[str]]],
    bases: list[str],
    parquet_dir: str,
    staging_name: str,
    check: Callable[[str, str], bool] | None = None,
) -> bool:
    """Write each ``(suffix, df, sort_cols)`` table ONCE into the
    reference's per-file layout ``<base>_<suffix>.parquet``; ``df``
    carries each row's output base in ``__base``. ``repartition(n,
    __base)`` confines each file's rows to one task, so every output is
    one part file like the per-file writer's ``coalesce(1)``;
    ``sortWithinPartitions`` makes file content order deterministic. A
    staged ``partitionBy(__base)`` write plus a driver rename pass
    (_promote_partition_dirs) lands the reference names: one shuffle
    and one write stage per table, whatever the file count.

    ``check(suffix, stage_dir)`` runs after each staged write, before
    that table is promoted: it may raise, and a False return stops the
    call with that table unpromoted (so nothing is promoted when the
    first table fails it). Returns True when every table is promoted.
    The staging dir is removed on every path."""
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
            if check is not None and not check(suffix, stage_dir):
                return False
            _promote_partition_dirs(
                stage_dir,
                parquet_dir,
                bases,
                suffix,
                _arrow_schema_without_base(df.schema),
            )
        return True
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
) -> int:
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
    data rows get schema-only outputs, as a per-file write of an empty
    frame would. Before each table is promoted, its staged per-file row
    counts (parquet footers, read on the driver) must equal the id
    assigner's counts pass, so a file that changed between the two
    passes raises instead of leaving an id gap. Returns the next free
    id, from that counts pass (no extra job; zero rows leave
    ``start_event_id`` unchanged). All-or-nothing: convert_mutations
    owns per-file isolation."""
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
    ranked, file_rows = mut_ops.with_sequential_ids_multi(
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
    bases = [output_base(it.path, "") for it in inputs]
    expected = {
        base: file_rows.get(_spark_file_uri(it.path), 0)
        for base, it in zip(bases, inputs)
    }

    def check(suffix: str, stage_dir: str) -> bool:
        staged = _staged_rows(stage_dir)
        wrong = sorted(b for b, n in expected.items() if staged.get(b, 0) != n)
        if wrong:
            raise RuntimeError(
                f"grouped mutations write: staged {suffix} row counts differ"
                f" from the id counts pass for {wrong[:5]}"
            )
        return True

    _write_per_base(
        spark,
        [
            ("mutation_event", ev_all, [mut_ops.EVENT_ID]),
            ("mutation", mut_all, [mut_ops.EVENT_ID]),
        ],
        bases,
        parquet_dir,
        ".grouped_staging",
        check,
    )
    return start_event_id + sum(file_rows.values())


def _check_unique_bases(mode: str, inputs: list) -> None:
    """Per-file output bases of the per-file layout; raises up front if
    two inputs collide onto one ``<studyDir>_<stem>`` (a per-file loop
    would silently let the later write clobber the earlier one)."""
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
    reference's ``<base>_<suffix>.parquet`` name (_staged_partitions).
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
    import pyarrow.parquet as pa_pq

    found = _staged_partitions(stage_dir)
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


def _staged_partitions(stage_dir: str) -> dict[str, str]:
    """base -> ``__base=<v>`` partition dir of a staged partitionBy
    write. Dir names carry Spark's %XX partition-value escaping (urllib
    unquote reverses)."""
    from urllib.parse import unquote

    prefix = "__base="
    return {
        unquote(d[len(prefix) :]): os.path.join(stage_dir, d)
        for d in os.listdir(stage_dir)
        if d.startswith(prefix)
    }


def _staged_rows(stage_dir: str) -> dict[str, int]:
    """base -> rows staged for it, from the part files' parquet footers
    (driver-side, no Spark job)."""
    import pyarrow.parquet as pa_pq

    return {
        base: sum(
            pa_pq.read_metadata(os.path.join(d, f)).num_rows
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        for base, d in _staged_partitions(stage_dir).items()
    }


def _arrow_schema_without_base(schema):
    """pyarrow schema of a table or grouped frame's Spark schema minus
    the __base tag (all columns string except bigint ids) — for
    schema-only outputs and footer checks."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                f.name,
                pa.int64()
                if f.dataType.simpleString() == "bigint"
                else pa.string(),
            )
            for f in schema.fields
            if f.name != "__base"
        ]
    )


def _check_footer_schemas(paths: list[str], schema) -> None:
    """Every part file under ``paths`` must carry ``schema``'s columns
    in order, with its types, per its pyarrow footer (driver-side, no
    Spark job): a read with the declared schema skips Spark's inference
    job, and would otherwise null out or misread a drifted file."""
    import pyarrow.parquet as pa_pq

    want = [(f.name, f.type) for f in _arrow_schema_without_base(schema)]
    for p in paths:
        for name in sorted(os.listdir(p)):
            if name.startswith(("_", ".")):  # not read by Spark either
                continue
            part = os.path.join(p, name)
            got = [(f.name, f.type) for f in pa_pq.read_schema(part)]
            if got != want:
                raise ValueError(
                    f"load_clickhouse: {part} has columns {got}, expected"
                    f" {want}"
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
    ``write_clickhouse_http`` — one distributed job per table. The scan
    takes the table's declared schema (schemas.ALL_TABLES), so Spark
    runs no schema-inference job; every part file's footer schema is
    checked against it on the driver first, and a mismatch raises
    naming the file.

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
        _check_footer_schemas(paths, ALL_TABLES[kind])
        execute_clickhouse_http(url, ddls[kind], user, password)
        df = spark.read.schema(ALL_TABLES[kind]).parquet(*paths)
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
