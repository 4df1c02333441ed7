"""ClickHouse HTTP-interface sink — the jar-free half of S9.

ClickHouse exposes two first-class bulk-ingest paths: the native/JDBC
protocol (``sinks/clickhouse.py`` — gated on a driver jar this
container has never had) and the HTTP interface (public docs:
``POST /?query=INSERT INTO t FORMAT ...`` with the rows as the request
body), which every language client without a native driver uses. The
HTTP path needs only the Python stdlib, so unlike the JDBC writer the
DISTRIBUTED mechanics here are exercised end-to-end by test against a
local capturing HTTP server: every executor task serializes its
partition in Arrow-batched chunks (``mapInPandas``, never
row-at-a-time) and POSTs ~``batch_rows``-row bodies — ClickHouse's
preferred few-large-inserts shape.

Body format is **JSONEachRow**, not CSV — a round-10 advice fix. CSV
has two silent-fidelity traps this sink used to carry:

  * Arrow->pandas (``mapInPandas``) converts an int64 batch
    containing any NULL to float64, so bigint values in that batch
    serialized as ``123.0`` (an Int64 parse error server-side at
    best, silent coercion at worst) — and a value like 2^63-8 is
    destroyed outright (float64 can't represent it; no post-hoc cast
    can recover it). Fixed here by switching to ``mapInArrow`` and
    converting each flush's Arrow table to pandas with a
    ``types_mapper`` that lands integer columns on the nullable
    ``Int64`` dtype — values stay exact int64 end to end (pinned to
    2^63-8 by test) and NULLs stay ``null``.
  * CSV NULL-vs-string ambiguity: a string VALUE equal to ``\\N``
    (or containing backslashes, under parsers that unescape them)
    is indistinguishable from the CSV NULL literal unless every
    writer/reader quoting rule matches exactly. JSON has no such
    convention — ``null`` is NULL, every string is fully escaped by
    spec, so a literal ``\\N`` or ``C:\\dir`` column value survives
    byte-exact. (JSONEachRow bodies are larger than CSV; this path
    feeds catalog deployment, where unambiguous beats compact.)

Semantics and scale posture:

  * **At-least-once.** A failed POST raises, the task fails, Spark
    retries the whole task — rows already posted by the failed attempt
    are duplicated. Pinned by test (``test_clickhouse_http_sink_
    retry_duplicates_posted_batches``): a task that dies after one
    successful POST re-sends that batch on retry. On MergeTree targets
    ClickHouse's insert-block deduplication absorbs byte-identical
    replays of the same block (serialization here is deterministic
    per batch); exactly-once needs either that or an idempotent
    target (e.g. ReplacingMergeTree keyed on the row identity) —
    documented here, not hidden.
  * **Connection fan-out** = one in-flight request per running task;
    bound it with ``df.repartition(n)`` exactly like the JDBC writer.
  * **NULLs** travel as JSON ``null``; empty string stays ``""``,
    preserving the engine's no-NULL '' contract for the catalog
    tables.
  * The INSERT names its columns explicitly (backtick-escaped; the
    JSON keys repeat them per row), so server-side column order or
    defaulted extra columns don't silently misalign.
  * Timestamps serialize as UTC-marked ISO-8601 with microseconds
    (``date_unit="us"``; the session timezone is UTC engine-wide).
    The trailing ``Z`` needs ``date_time_input_format=best_effort``,
    which the insert URL carries as a query parameter itself —
    ClickHouse's basic parser rejects zone suffixes, and a documented
    server-config requirement is a deployment landmine.
  * Floats serialize at ``double_precision=15`` (the pandas JSON
    writer's maximum; its default of 10 silently rounds — a
    self-review catch). 15 significant digits covers every value
    printed by ClickHouse itself; values whose shortest round-trip
    repr needs 16-17 digits land <=1 ulp off. DECIMAL columns never
    touch float64: they are Arrow-cast to exact decimal strings
    (quoted values are accepted by ClickHouse's Decimal parser).
    DATE columns are Arrow-cast to bare ``YYYY-MM-DD`` strings before
    serialization (ClickHouse's Date parser wants that form, not the
    ISO-datetime midnight string pandas emits for date objects).

Reference: N/A — S9 is the BASELINE.json north star, not a reference
operator (README.md:5-8 stops at ClickHouse-shaped parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_BATCH_ROWS = 100_000


def _quote_ident(name: str) -> str:
    """Backtick-quote one identifier, escaping embedded backticks
    (ClickHouse identifier escape: doubled backtick). A raw
    interpolation would let a hostile column/table name break or
    inject into the INSERT statement (round-10 advice)."""
    return "`" + name.replace("`", "``") + "`"


def _quote_table(table: str) -> str:
    """Quote a possibly database-qualified table name part-by-part
    (``db.tbl`` -> ```db`.`tbl```). An empty part (``db.`` / leading
    dot) is malformed — raise rather than emit broken SQL."""
    parts = table.split(".")
    if not all(parts):
        raise ValueError(f"malformed table name: {table!r}")
    return ".".join(_quote_ident(p) for p in parts)


def _insert_url(url: str, table: str, columns: list[str]) -> str:
    from urllib.parse import urlencode

    cols = ", ".join(_quote_ident(c) for c in columns)
    query = f"INSERT INTO {_quote_table(table)} ({cols}) FORMAT JSONEachRow"
    params = {
        "query": query,
        # timestamps serialize UTC-marked ('...Z'); the default basic
        # parser rejects zone suffixes, so carry the setting with the
        # insert instead of leaving a server-config landmine (settings
        # travel as URL parameters on the HTTP interface)
        "date_time_input_format": "best_effort",
    }
    return url.rstrip("/") + "/?" + urlencode(params)


def execute_clickhouse_http(
    url: str,
    sql: str,
    user: str | None = None,
    password: str | None = None,
    timeout: float = 60.0,
) -> str:
    """Driver-side statement execution over the HTTP interface (DDL,
    maintenance): the SQL travels as the POST body. Returns the
    server's response text; non-2xx raises. Used by the CLI's
    ``load-clickhouse`` mode to create the catalog tables before the
    distributed insert jobs run."""
    import urllib.request

    headers = {"Content-Type": "text/plain"}
    if user is not None:
        headers["X-ClickHouse-User"] = user
    if password is not None:
        headers["X-ClickHouse-Key"] = password
    req = urllib.request.Request(
        url.rstrip("/") + "/",
        data=sql.encode("utf-8"),
        headers=headers,
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.read().decode("utf-8", errors="replace")


def write_clickhouse_http(
    df: DataFrame,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    batch_rows: int = DEFAULT_BATCH_ROWS,
    timeout: float = 60.0,
) -> int:
    """POST ``df`` into ``table`` via the ClickHouse HTTP interface.

    Runs as one distributed job: each task accumulates its Arrow
    record batches to ~``batch_rows`` rows and POSTs each accumulation
    as one ``INSERT ... FORMAT JSONEachRow`` body (``mapInArrow`` so
    NULL-bearing integer columns never pass through float64;
    vectorized pandas ``to_json`` for the body — see module
    docstring). Returns the total row count sent: each task yields its
    count and the driver sums the collected rows, so the write is forced
    exactly once, in one job with no shuffle.
    Raises on the first non-2xx response (fail loud; see module
    docstring for the at-least-once retry semantics that implies).

    ``user``/``password`` travel as the documented
    ``X-ClickHouse-User``/``X-ClickHouse-Key`` headers.
    """
    columns = list(df.columns)
    target = _insert_url(url, table, columns)
    headers = {"Content-Type": "application/json"}
    if user is not None:
        headers["X-ClickHouse-User"] = user
    if password is not None:
        headers["X-ClickHouse-Key"] = password

    def send(batches):
        import urllib.request

        import pyarrow as pa

        # integer Arrow columns -> pandas nullable Int* (exact ints +
        # pd.NA); everything else takes the default conversion
        _int_dtypes = None

        def _types_mapper(t):
            import pandas as pd

            nonlocal _int_dtypes
            if _int_dtypes is None:
                _int_dtypes = {
                    pa.int8(): pd.Int8Dtype(),
                    pa.int16(): pd.Int16Dtype(),
                    pa.int32(): pd.Int32Dtype(),
                    pa.int64(): pd.Int64Dtype(),
                }
            return _int_dtypes.get(t)

        pending: list[pa.RecordBatch] = []
        pending_rows = 0
        sent = 0

        def flush():
            nonlocal pending, pending_rows, sent
            if not pending_rows:
                return
            tbl = pa.Table.from_batches(pending)
            for i, fld in enumerate(tbl.schema):
                # DATE columns -> plain 'YYYY-MM-DD' strings (Arrow
                # cast, vectorized): ClickHouse's Date parser wants
                # the bare form, not the ISO-datetime midnight string
                # pandas would emit for date objects. DECIMAL columns
                # -> exact decimal strings: pandas' JSON writer would
                # route Decimal objects through float64, rounding
                # >15-16 significant digits (self-review finding);
                # ClickHouse's Decimal parser accepts quoted values
                if pa.types.is_date(fld.type) or pa.types.is_decimal(
                    fld.type
                ):
                    tbl = tbl.set_column(
                        i, fld.name, tbl.column(i).cast(pa.string())
                    )
            frame = tbl.to_pandas(types_mapper=_types_mapper)
            body = frame.to_json(
                orient="records",
                lines=True,
                force_ascii=False,
                date_format="iso",
                date_unit="us",
                # pandas' default double_precision=10 silently rounds
                # float64 (0.30000000000000004 -> 0.3, 1e-15 -> 0.0) —
                # 15 is the writer's max; the residual <=1-ulp gap vs
                # 17-digit shortest-repr is documented in the module
                # docstring
                double_precision=15,
            )
            req = urllib.request.Request(
                target,
                data=body.encode("utf-8"),
                headers=headers,
                method="POST",
            )
            # non-2xx raises HTTPError -> task failure -> Spark retry
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                resp.read()
            sent += pending_rows
            pending, pending_rows = [], 0

        for rb in batches:
            # slice oversized Arrow batches (zero-copy) so batch_rows
            # is a real body-size bound, not just a flush trigger —
            # one Arrow batch can exceed it (maxRecordsPerBatch
            # default 10k)
            for start in range(0, rb.num_rows, batch_rows):
                piece = rb.slice(start, batch_rows)
                pending.append(piece)
                pending_rows += piece.num_rows
                if pending_rows >= batch_rows:
                    flush()
        flush()
        yield pa.RecordBatch.from_pydict({"rows_sent": [sent]})

    # one row per task, summed on the driver: the collect is the one job
    sent = df.mapInArrow(send, "rows_sent long").collect()
    return sum(r["rows_sent"] for r in sent)
