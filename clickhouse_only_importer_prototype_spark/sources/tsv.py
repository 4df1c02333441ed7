"""TSV sources: CNA wide matrix and mutation MAF readers.

Spark-first restatement of the reference's Arrow CSV scans:
  * CNA (cna/reader.go:15-55): tab-separated, header row, every column
    string. Spark's csv reader with header=True and no inferSchema is
    semantically identical to the reference's header-only schema
    inference — and distributes the scan. ``convert_cna`` reads every
    file with one text scan (plans/pipelines.py); ``read_cna_matrix``
    is only its fallback route, for files the text scan would misread
    (a quote char, a missing, repeated or blank-first-line header).
  * MAF (mutation/reader.go:15-69): same plus leading ``#`` comment
    lines skipped before the header — ``option("comment", "#")``.
    ``convert_mutations`` reads each header group with ``read_maf``.

The reference chunks 100 rows/batch through Go channels
(cna/transformer.go:316); Spark's columnar batching supersedes that —
scan tasks are split by ``spark.sql.files.maxPartitionBytes`` so a
100 TB input becomes ~800k well-sized parallel tasks with no code here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouse_only_importer_prototype_spark.schemas import (
    MAF_READ_OPTIONS,
    TSV_READ_OPTIONS,
)


def _header_only_schema(path: str, comment: str | None = None):
    """Driver-side header -> explicit all-string StructType, or None to
    fall back to Spark's header-inference scan.

    Rationale (study-COUNT scale): ``spark.read.csv`` with header=true
    and no schema runs one tiny Spark JOB per file at DataFrame
    CREATION time just to read the header — at 1000 studies the
    convert modes pay 1000-2000 scheduling round-trips before any real
    work. One driver-side ``open()``/first-line read replaces each.

    Name normalization replicates Spark's makeSafeHeader (public
    source, csv/CSVDataSource.scala) so ``df.columns`` is IDENTICAL to
    the inference path — pinned by a property test over the
    adversarial-header corpus (duplicate names, empty cells, CRLF):
      * empty header cell          -> ``_c<i>``
      * duplicated name (case-insensitive, matching the default
        spark.sql.caseSensitive=false) -> ``<name><i>`` on EVERY
        occurrence, original case kept.
    Falls back to inference (None) for: unreadable first line, empty /
    comment-only files (must keep reading as empty zero-column frames,
    the pinned degenerate behavior), a whitespace-only first line, and
    headers containing a quote char (csv quote semantics belong to the
    real parser).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    parsed = header_line_and_names(path, comment)
    if parsed is None:
        return None
    _, cols = parsed
    return StructType([StructField(c, StringType(), True) for c in cols])


def header_line_and_names(
    path: str, comment: str | None = None
) -> tuple[str, list[str]] | None:
    """(raw header line without EOL, Spark-normalized column names) or
    None for empty/comment-only/quoted-header files and for a first
    line that Java's ``String.trim()`` empties (every char <= U+0020):
    the csv reader skips such a line and takes the next one as the
    header, so only the real parser may read the file. The raw line is
    what ``spark.read.text`` yields for that row (text source strips
    \\n, \\r\\n) — convert_cna's single text scan filters header rows
    by matching it byte-for-byte. Name normalization: see
    _header_only_schema."""
    from collections import Counter

    with open(path, encoding="utf-8", errors="replace") as fh:
        line = None
        for raw in fh:
            if comment and raw.startswith(comment):
                continue
            line = raw
            break
    if line is None or all(c <= " " for c in line) or '"' in line:
        return None
    stripped = line.rstrip("\r\n")
    names = stripped.split("\t")
    lower_counts = Counter(n.lower() for n in names)
    cols = []
    for i, n in enumerate(names):
        if n == "":
            cols.append(f"_c{i}")
        elif lower_counts[n.lower()] > 1:
            cols.append(f"{n}{i}")
        else:
            cols.append(n)
    return stripped, cols


def read_cna_matrix(spark: SparkSession, path: str) -> DataFrame:
    """Read a wide CNA matrix TSV; all columns string, header names kept.

    Column contract (cna/transformer.go:496-503): position 0 = gene
    symbol, 1 = entrez id, 2..N = one column per sample, in file order.
    Spark preserves header order in ``df.columns`` — the ordering
    contract costs nothing. Schema comes from a driver-side header
    read (see _header_only_schema) — no inference job per file.
    """
    schema = _header_only_schema(path)
    reader = spark.read.options(**TSV_READ_OPTIONS)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.csv(path)


def read_maf(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Read mutation MAF TSV(s); leading '#' comments skipped natively.
    Multi-path callers (convert_mutations' grouped write) group files by identical
    header, so the first path's driver-side header schema is the
    group's schema — again, no inference job."""
    paths = [path] if isinstance(path, str) else list(path)
    schema = _header_only_schema(paths[0], comment="#")
    reader = spark.read.options(**MAF_READ_OPTIONS)
    if schema is not None:
        return reader.schema(schema).csv(paths)
    return reader.csv(paths)
