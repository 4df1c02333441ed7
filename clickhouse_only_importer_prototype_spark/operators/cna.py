"""CNA operators: pivot-concat (VALUES), sample-list capture, melt.

Reference semantics (cna/transformer.go:461-625):
  * ``genetic_alterations``: one row per gene; VALUES = the gene's cells
    for sample columns 2..N comma-joined IN COLUMN ORDER (:511-532).
  * ``genetic_profile_samples``: exactly one row per (study, profile);
    ORDERED_SAMPLE_LIST = ``<study>_<col>`` comma-joined in column order
    (:498-508), emitted for the first batch only (:341-351) with a
    1-row invariant (:553-560).
  * ``derived``: full unpivot — one row per (sample, gene) (:565-625).

Spark-first design: the wide path needs NO shuffle at all — VALUES is a
row-local ``concat_ws`` over the sample columns, the sample list is pure
header metadata (computed from ``df.columns``, zero data scan — the
reference's first-batch gate becomes a no-op), and the melt is Spark's
native ``unpivot`` (narrow, pipelined). All three plans are
scan→project→sink; at 100 TB they scale linearly with input splits.

There is also a long-path builder (``genetic_alterations_from_long``)
for when the data already lives in melted form: an order-sensitive
groupBy aggregation that sorts each gene's values by sample index
before joining — the shuffle is one hash partition by gene key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from clickhouse_only_importer_prototype_spark.functions import ns, underscore_join
from clickhouse_only_importer_prototype_spark.schemas import (
    GENETIC_PROFILE_SAMPLES_SCHEMA,
)

GENE_COL_IDX = 0  # 0:hugo (cna/transformer.go:496)
FIRST_SAMPLE_IDX = 2  # samples start at col 2 (cna/transformer.go:498)


def sample_columns(df: DataFrame) -> list[str]:
    """Sample columns = positions 2..N in header order (P5)."""
    return df.columns[FIRST_SAMPLE_IDX:]


def genetic_alterations(df: DataFrame, study: str, profile: str) -> DataFrame:
    """Wide pivot-concat: per-gene VALUES in column order (A1).

    Row-local — no shuffle; Catalyst prunes nothing because every sample
    column feeds the concat, which is exactly the data this op needs.
    """
    gene_col = df.columns[GENE_COL_IDX]
    samples = sample_columns(df)
    return df.select(
        F.lit(study).alias("CANCER_STUDY"),
        F.lit(profile).alias("GENETIC_PROFILE"),
        ns(F.col(gene_col)).alias("GENE_SYMBOL"),
        F.concat_ws(",", *[ns(F.col(c)) for c in samples]).alias("VALUES"),
    )


def genetic_profile_samples(
    spark: SparkSession, df: DataFrame, study: str, profile: str
) -> DataFrame:
    """Sample-list capture (A2) — pure header metadata, zero data scan.

    The reference computes this from the first 100-row batch and drops
    it for every later batch (cna/transformer.go:341-351); here it falls
    out of the schema. The 1-row invariant (:553-560) holds by
    construction.
    """
    ordered = ",".join(f"{study}_{c}" for c in sample_columns(df))
    # range(1)+lit, NOT createDataFrame: the Python local-relation
    # write path costs ~5s per 1-row frame on this runtime (measured;
    # a JVM range writes in 0.2s) — at one row per (study, profile)
    # that tax scales with study count. The when() guards on the range
    # column (not a foldable constant) so the fields stay NULLABLE and
    # the schema bit-identical to GENETIC_PROFILE_SAMPLES_SCHEMA.
    values = (
        ("CANCER_STUDY", study),
        ("GENETIC_PROFILE", profile),
        ("ORDERED_SAMPLE_LIST", ordered),
    )
    # numPartitions=1, NOT the default: bare spark.range(1) allocates
    # defaultParallelism partitions for ONE row, all but one empty
    out = spark.range(0, 1, 1, 1).select(
        *[
            F.when(F.col("id") >= 0, F.lit(v)).cast("string").alias(n)
            for n, v in values
        ]
    )
    # explicit raise, not assert: the contract must survive python -O,
    # and a Spark-version nullability-inference change here would
    # otherwise ship a silently drifted schema
    if out.schema != GENETIC_PROFILE_SAMPLES_SCHEMA:
        raise RuntimeError(
            "genetic_profile_samples schema drifted from "
            f"GENETIC_PROFILE_SAMPLES_SCHEMA: {out.schema}"
        )
    return out


def cna_derived(df: DataFrame, study: str, profile: str) -> DataFrame:
    """Full melt to (SAMPLE_ID, CANCER_STUDY, GENE_SYMBOL,
    GENETIC_PROFILE, ALTERATION) — cna/transformer.go:565-625.

    Uses Spark's native ``unpivot`` (Spark 3.4+): a narrow, pipelined
    generator — rows×samples output with no shuffle. SAMPLE_ID =
    ``<study>_<column name>`` (:598).
    """
    gene_col = df.columns[GENE_COL_IDX]
    samples = sample_columns(df)
    if not samples:
        # degenerate matrix with no sample columns: the reference's
        # column loop emits zero rows; unpivot([]) would throw
        from clickhouse_only_importer_prototype_spark.schemas import (
            CNA_DERIVED_SCHEMA,
        )

        return df.sparkSession.createDataFrame([], CNA_DERIVED_SCHEMA)
    melted = df.unpivot(
        ids=[gene_col],
        values=samples,
        variableColumnName="__sample_col",
        valueColumnName="__alteration",
    )
    return melted.select(
        underscore_join(study, F.col("__sample_col")).alias("SAMPLE_ID"),
        F.lit(study).alias("CANCER_STUDY"),
        ns(F.col(gene_col)).alias("GENE_SYMBOL"),
        F.lit(profile).alias("GENETIC_PROFILE"),
        ns(F.col("__alteration")).alias("ALTERATION"),
    )


def genetic_alterations_from_long(
    long_df: DataFrame,
    gene_col: str,
    sample_idx_col: str,
    value_col: str,
    study_col: str,
    profile_col: str,
) -> DataFrame:
    """Order-sensitive pivot-concat from long form (A1 long path).

    Groups by (study, profile, gene) and joins values sorted by sample
    index — ``array_sort`` over (idx, value) structs keeps the sort
    inside the aggregation buffer, so the plan is one partial+final
    hash aggregate (map-side combine, single shuffle).
    """
    collected = F.array_sort(
        F.collect_list(F.struct(F.col(sample_idx_col), F.col(value_col)))
    )
    return (
        long_df.groupBy(study_col, profile_col, gene_col)
        .agg(
            F.array_join(
                F.transform(collected, lambda s: ns(s[value_col])), ","
            ).alias("VALUES")
        )
        .select(
            F.col(study_col).alias("CANCER_STUDY"),
            F.col(profile_col).alias("GENETIC_PROFILE"),
            ns(F.col(gene_col)).alias("GENE_SYMBOL"),
            F.col("VALUES"),
        )
    )
