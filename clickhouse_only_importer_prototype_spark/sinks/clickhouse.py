"""ClickHouse DDL: the Spark-to-ClickHouse type map and the CREATE
TABLE statements for the catalog tables (S9).

The reference writes ClickHouse-shaped parquet for out-of-band loading.
This port loads that parquet through one path, the HTTP sink
(``sinks/clickhouse_http.py`` via ``load-clickhouse``); this module
emits the DDL it runs first and the ``ddl`` CLI mode prints.
"""

from __future__ import annotations

from pyspark.sql import types as T

_SIMPLE_TYPES: dict[type, str] = {
    T.StringType: "String",
    T.BinaryType: "String",  # ClickHouse stores raw bytes in String
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.FloatType: "Float32",
    T.DoubleType: "Float64",
    T.BooleanType: "Bool",
    T.DateType: "Date32",
}


def clickhouse_type(
    dt: T.DataType, nullable: bool = False, low_cardinality: bool = False
) -> str:
    """Map a Spark SQL type to the ClickHouse column type the HTTP
    sink's inserts expect on the server side.

    Composition rules mirror ClickHouse's: ``Nullable`` wraps only
    scalar leaves (Array/Map/Tuple cannot be Nullable — their inner
    element types carry nullability instead), Map keys are never
    Nullable, and ``LowCardinality`` sits INSIDE ``Nullable``'s
    position, i.e. ``LowCardinality(Nullable(String))``.
    """
    if isinstance(dt, T.DecimalType):
        base: str | None = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        base = "DateTime64(6)"  # Spark timestamps are microsecond
    elif isinstance(dt, T.ArrayType):
        return f"Array({clickhouse_type(dt.elementType, dt.containsNull)})"
    elif isinstance(dt, T.MapType):
        key = clickhouse_type(dt.keyType, nullable=False)
        val = clickhouse_type(dt.valueType, dt.valueContainsNull)
        return f"Map({key}, {val})"
    elif isinstance(dt, T.StructType):
        inner = ", ".join(
            f"`{f.name}` {clickhouse_type(f.dataType, f.nullable)}"
            for f in dt.fields
        )
        return f"Tuple({inner})"
    else:
        base = _SIMPLE_TYPES.get(type(dt))
    if base is None:
        raise TypeError(f"no ClickHouse mapping for Spark type {dt}")
    if nullable:
        base = f"Nullable({base})"
    if low_cardinality:
        base = f"LowCardinality({base})"
    return base


def clickhouse_ddl(
    schema: T.StructType,
    table: str,
    order_by: list[str] | None = None,
    low_cardinality: set[str] | frozenset[str] | None = None,
    partition_by: str | None = None,
    engine: str = "MergeTree",
) -> str:
    """CREATE TABLE DDL for ``schema``, shaped for the cgds.sql-style
    tables the reference's parquet mirrors (README modes section:
    genetic_alteration / genetic_profile_samples / mutation outputs).

    ``order_by`` defaults to the first column (MergeTree requires an
    ORDER BY; sort-key columns are emitted non-Nullable, matching the
    server default that rejects Nullable keys). ``low_cardinality``
    names dictionary-encoded columns — the natural choice for enum-ish
    reference columns like chromosome, variant type, or study id.
    """
    # identifier quoting shared with the HTTP sink's INSERT builder so
    # DDL and inserts can never disagree on escaping (round-10 advice:
    # backticks in identifiers are escaped, table names may be
    # db-qualified, malformed names fail loud)
    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        _quote_ident,
        _quote_table,
    )

    low_cardinality = low_cardinality or frozenset()
    key_cols = order_by if order_by is not None else [schema.fields[0].name]
    missing = set(key_cols) - {f.name for f in schema.fields}
    if missing:
        raise ValueError(f"order_by columns not in schema: {sorted(missing)}")
    cols = ",\n    ".join(
        "{} {}".format(
            _quote_ident(f.name),
            clickhouse_type(
                f.dataType,
                nullable=f.nullable and f.name not in key_cols,
                low_cardinality=f.name in low_cardinality,
            ),
        )
        for f in schema.fields
    )
    order_clause = (
        "({})".format(", ".join(_quote_ident(c) for c in key_cols))
        if key_cols
        else "tuple()"
    )
    parts = [
        f"CREATE TABLE IF NOT EXISTS {_quote_table(table)} (\n    {cols}\n)",
        f"ENGINE = {engine}",
    ]
    if partition_by:
        parts.append(f"PARTITION BY {partition_by}")
    parts.append(f"ORDER BY {order_clause}")
    return "\n".join(parts)


# per-catalog-table physical layout: sort key (MergeTree ORDER BY) and
# dictionary-encoded columns. Keys mirror how cgds.sql-shaped consumers
# query these tables: alterations by (study, profile, gene), samples by
# (study, profile), mutations by event id / sample.
_CATALOG_LAYOUT: dict[str, tuple[list[str], set[str]]] = {
    "genetic_alterations": (
        ["CANCER_STUDY", "GENETIC_PROFILE", "GENE_SYMBOL"],
        {"CANCER_STUDY", "GENETIC_PROFILE"},
    ),
    "genetic_profile_samples": (
        ["CANCER_STUDY", "GENETIC_PROFILE"],
        {"CANCER_STUDY", "GENETIC_PROFILE"},
    ),
    "derived": (
        ["CANCER_STUDY", "GENETIC_PROFILE", "GENE_SYMBOL", "SAMPLE_ID"],
        {"CANCER_STUDY", "GENETIC_PROFILE", "ALTERATION"},
    ),
    "mutation_event": (
        ["MUTATION_EVENT_ID"],
        {"CHR", "MUTATION_TYPE", "NCBI_BUILD", "STRAND", "VARIANT_TYPE"},
    ),
    "mutation": (
        ["MUTATION_EVENT_ID", "SAMPLE_ID"],
        {"CANCER_STUDY", "GENETIC_PROFILE", "MUTATION_STATUS"},
    ),
}


def catalog_ddl() -> dict[str, str]:
    """CREATE TABLE statements for every catalog table (schemas.py
    ALL_TABLES) — what a ClickHouse instance needs before the HTTP sink
    (or an out-of-band parquet load) can ingest the engine's outputs.
    Columns the layout table doesn't know (absent from a schema
    variant) are ignored per-table."""
    from clickhouse_only_importer_prototype_spark import schemas

    out = {}
    for name, schema in schemas.ALL_TABLES.items():
        order_by, low_card = _CATALOG_LAYOUT.get(name, (None, set()))
        fields = {f.name for f in schema.fields}
        if order_by is not None:
            order_by = [c for c in order_by if c in fields]
        out[name] = clickhouse_ddl(
            schema,
            name,
            order_by=order_by or None,
            low_cardinality={c for c in low_card if c in fields},
        )
    return out
