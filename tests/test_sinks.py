"""Sinks: JDBC (S9) option plumbing + write path executed for real
against Spark's bundled embedded Derby (no ClickHouse in container),
and bucketed tables joining shuffle-free."""

from __future__ import annotations

import pytest

from clickhouse_only_importer_prototype_spark.sinks import (
    bucketed,
    clickhouse as ch,
)


def test_jdbc_writer_options():
    opts = ch.jdbc_writer_options(
        "jdbc:clickhouse://host:8123/db",
        "events",
        batch_size=50_000,
        user="u",
        password="p",
        max_connections=4,
    )
    assert opts["dbtable"] == "events"
    assert opts["driver"] == ch.CLICKHOUSE_DRIVER
    assert opts["batchsize"] == "50000"
    assert opts["isolationLevel"] == "NONE"
    assert opts["numPartitions"] == "4"
    assert opts["user"] == "u" and opts["password"] == "p"
    assert "user" not in ch.jdbc_writer_options("jdbc:x", "t")


def test_write_clickhouse_missing_driver_raises(spark):
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="ClickHouse JDBC driver"):
        ch.write_clickhouse(df, "jdbc:clickhouse://nowhere:8123/db", "t")


def test_write_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Drive the exact repartition+options+save path write_clickhouse
    uses, against the Derby embedded driver shipped in Spark's jars;
    read back over JDBC and compare."""
    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.range(1000).selectExpr(
        "id", "cast(id * 2 as double) as v", "concat('r', id) as name"
    )
    opts = ch.jdbc_writer_options(url, "smoke", batch_size=100, max_connections=3)
    # swap only the driver class: everything else is the ClickHouse map
    opts["driver"] = driver
    ch._write_jdbc(df, opts, mode="overwrite", max_connections=3)

    back = (
        spark.read.format("jdbc")
        .options(url=url, dbtable="smoke", driver=driver)
        .load()
    )
    assert back.count() == 1000
    got = {(r.id, r.v, r.name) for r in back.collect()}
    exp = {(i, float(i * 2), f"r{i}") for i in range(1000)}
    assert got == exp


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout: an equality predicate on the
    partition column must resolve at PLANNING time (PartitionFilters
    on the scan, non-partition predicates absent from it) — at 100 TB
    this is the difference between listing one directory and scanning
    the table."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sinks.parquet import (
        write_parquet,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_parquet(docs, out, partition_by=["lang"])
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "(lang" in plan.split("PartitionFilters", 1)[1][:200]
    # values survive the layout round-trip
    expect = docs.where(F.col("lang") == "en").count()
    assert back.count() == expect and expect > 0


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key sort-merge join with NO
    shuffle on either side — the write-time shuffle is the whole point
    of bucketing at 100 TB. Broadcast is disabled for the check so the
    planner can't sidestep the question."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    bucketed.write_bucketed(
        orders, "b_orders", 8, ["o_custkey"], path=str(tmp_path / "b_orders")
    )
    bucketed.write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer",
        8,
        ["o_custkey"],
        path=str(tmp_path / "b_customer"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed.read_bucketed(spark, "b_orders").join(
            bucketed.read_bucketed(spark, "b_customer"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        # and it still computes the right thing
        plain = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        )
        assert joined.count() == plain.count()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_equality_predicate_prunes_buckets(spark, sf_dir, tmp_path):
    """An equality filter on the bucket key scans 1 of n buckets.
    autoBucketedScan must be off for a scan-only plan: Spark's auto
    mode disables the bucketed scan when no operator exploits the
    distribution, which also forfeits pruning."""
    import io
    import contextlib
    import re

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    bucketed.write_bucketed(
        orders, "bp_orders", 8, ["o_custkey"], path=str(tmp_path / "bp")
    )
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df = spark.table("bp_orders").where("o_custkey = 371")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", buf.getvalue())
        assert m and (m.group(1), m.group(2)) == ("1", "8")
        plain = orders.where("o_custkey = 371").count()
        assert df.count() == plain
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        spark.sql("DROP TABLE IF EXISTS bp_orders")


def test_clickhouse_type_mapping():
    from pyspark.sql import types as T

    cases = [
        (T.StringType(), False, False, "String"),
        (T.StringType(), True, False, "Nullable(String)"),
        (T.StringType(), True, True, "LowCardinality(Nullable(String))"),
        (T.LongType(), False, False, "Int64"),
        (T.IntegerType(), True, False, "Nullable(Int32)"),
        (T.DoubleType(), False, False, "Float64"),
        (T.BooleanType(), False, False, "Bool"),
        (T.DateType(), False, False, "Date32"),
        (T.TimestampType(), True, False, "Nullable(DateTime64(6))"),
        (T.DecimalType(18, 4), False, False, "Decimal(18, 4)"),
        (T.BinaryType(), False, False, "String"),
    ]
    for dt, nullable, lc, want in cases:
        assert ch.clickhouse_type(dt, nullable, lc) == want
    # composites: Nullable moves inside, never wraps the container
    arr = T.ArrayType(T.StringType(), containsNull=True)
    assert ch.clickhouse_type(arr, nullable=True) == "Array(Nullable(String))"
    mp = T.MapType(T.StringType(), T.LongType(), valueContainsNull=True)
    assert ch.clickhouse_type(mp, nullable=True) == "Map(String, Nullable(Int64))"
    st = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    assert ch.clickhouse_type(st) == "Tuple(`a` Int64, `b` Nullable(String))"
    with pytest.raises(TypeError, match="no ClickHouse mapping"):
        ch.clickhouse_type(T.NullType())


def test_clickhouse_ddl_snapshot_mutation_event():
    """DDL for the cgds.sql-shaped mutation_event output
    (reference README modes: *_mutation_event.parquet)."""
    from clickhouse_only_importer_prototype_spark.schemas import (
        MUTATION_EVENT_SCHEMA,
    )

    ddl = ch.clickhouse_ddl(
        MUTATION_EVENT_SCHEMA,
        "mutation_event",
        order_by=["MUTATION_EVENT_ID"],
        low_cardinality={"CHR", "MUTATION_TYPE", "NCBI_BUILD"},
    )
    lines = ddl.splitlines()
    assert lines[0] == "CREATE TABLE IF NOT EXISTS `mutation_event` ("
    assert "    `MUTATION_EVENT_ID` Int64" in ddl  # sort key: non-Nullable
    assert "`CHR` LowCardinality(Nullable(String))" in ddl
    assert "`ENTREZ_GENE_ID` Nullable(String)" in ddl
    assert ddl.endswith("ENGINE = MergeTree\nORDER BY (`MUTATION_EVENT_ID`)")
    # every schema field appears exactly once
    assert sum(l.strip().startswith("`") for l in lines) == len(
        MUTATION_EVENT_SCHEMA.fields
    )


def test_clickhouse_ddl_partition_and_validation(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("study_id", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    ddl = ch.clickhouse_ddl(
        schema,
        "samples",
        order_by=["study_id", "ts"],
        partition_by="toYYYYMM(ts)",
    )
    assert "PARTITION BY toYYYYMM(ts)" in ddl
    assert "ORDER BY (`study_id`, `ts`)" in ddl
    assert "`study_id` String" in ddl and "`ts` DateTime64(6)" in ddl
    with pytest.raises(ValueError, match="order_by columns not in schema"):
        ch.clickhouse_ddl(schema, "samples", order_by=["nope"])
    # default: first column is the sort key
    assert "ORDER BY (`study_id`)" in ch.clickhouse_ddl(schema, "samples")
    # the DDL is accepted by a SQL parser as a create statement shape
    assert ddl.count("(") == ddl.count(")")


def test_catalog_ddl_covers_all_tables():
    from clickhouse_only_importer_prototype_spark import schemas

    ddls = ch.catalog_ddl()
    assert set(ddls) == set(schemas.ALL_TABLES)
    for name, stmt in ddls.items():
        assert stmt.startswith(f"CREATE TABLE IF NOT EXISTS `{name}`")
        assert "ENGINE = MergeTree" in stmt and "ORDER BY (`" in stmt
        # every schema column appears
        for f in schemas.ALL_TABLES[name].fields:
            assert f"`{f.name}`" in stmt
    # sort keys are non-Nullable, dictionary columns LowCardinality
    assert "`CANCER_STUDY` LowCardinality(String)" in ddls["genetic_alterations"]
    assert "`MUTATION_EVENT_ID` Int64" in ddls["mutation_event"]


def test_cli_ddl_mode(capsys):
    from clickhouse_only_importer_prototype_spark.cli import main

    assert main(["-mode", "ddl"]) == 0
    out = capsys.readouterr().out
    assert out.count("CREATE TABLE IF NOT EXISTS") == 5
    assert out.rstrip().endswith(";")


def test_cli_checksum_mode(spark, tmp_path, capsys):
    """checksum mode fingerprints every parquet table under the dir;
    identical logical content in different row order produces the SAME
    line — the replication-convergence contract."""
    from clickhouse_only_importer_prototype_spark.cli import main

    a, b = tmp_path / "a", tmp_path / "b"
    rows = [(1, "x"), (2, "y"), (3, "z")]
    spark.createDataFrame(rows, "k long, v string").coalesce(1).write.parquet(
        str(a / "t.parquet")
    )
    spark.createDataFrame(
        list(reversed(rows)), "k long, v string"
    ).repartition(3).write.parquet(str(b / "t.parquet"))

    assert main(["-mode", "checksum", "-parquet-dir", str(a)]) == 0
    out_a = capsys.readouterr().out.strip()
    assert main(["-mode", "checksum", "-parquet-dir", str(b)]) == 0
    out_b = capsys.readouterr().out.strip()
    assert out_a == out_b
    assert "n_rows=3" in out_a and "checksum=" in out_a
    # empty dir: loud failure, not a silent empty report
    assert main(["-mode", "checksum", "-parquet-dir", str(tmp_path / "nope")]) == 1


def test_training_shards_layout_and_stability(spark, sf_dir, tmp_path):
    """Shard sink: hive shard dirs, stable assignment, within-shard
    sort, and agreement with shard_assignment."""
    import glob
    import hashlib

    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sinks.shards import (
        shard_assignment,
        write_training_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = str(tmp_path / "shards")
    write_training_shards(
        docs, out, n_shards=8, sort_by=["n_chars", "doc_id"]
    )
    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(dirs) == 8
    back = spark.read.parquet(out)
    assert back.count() == docs.count()

    # every row is in its md5 shard, matching the python reference
    def ref_shard(i):
        return (
            int(hashlib.md5(f"shard-v1:{i}".encode()).hexdigest()[:15], 16)
            % 8
        )

    sample = back.select("doc_id", "shard").limit(200).collect()
    assert all(r.shard == ref_shard(r.doc_id) for r in sample)

    # audit op agrees with the written layout
    audit = {
        r.shard: r["count"]
        for r in shard_assignment(docs, n_shards=8)
        .groupBy("shard")
        .count()
        .collect()
    }
    written = {
        r.shard: r["count"]
        for r in back.groupBy("shard").count().collect()
    }
    assert audit == written
    # balance: no shard more than 2x the mean (md5-uniform)
    mean = docs.count() / 8
    assert all(c < 2 * mean for c in written.values())

    # within-shard sort: each parquet file is n_chars-ordered
    one = spark.read.parquet(dirs[0]).select("n_chars").collect()
    vals = [r.n_chars for r in one]
    assert vals == sorted(vals)

    # determinism: a second write lands every doc in the same shard
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=8)
    back2 = spark.read.parquet(out2)
    assert (
        back.select("doc_id", "shard")
        .exceptAll(back2.select("doc_id", "shard"))
        .count()
        == 0
    )


def test_training_shards_max_records_per_file(spark, tmp_path):
    import glob

    from clickhouse_only_importer_prototype_spark.sinks.shards import (
        write_training_shards,
    )

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "small")
    write_training_shards(
        df, out, n_shards=2, max_records_per_file=100
    )
    files = glob.glob(f"{out}/shard=*/*.parquet")
    # ~1000 rows / 2 shards / 100-rows-per-file => >= 10 files
    assert len(files) >= 10
    with pytest.raises(ValueError):
        write_training_shards(df, out, n_shards=0)


def test_range_sorted_export_nonoverlapping_zone_maps(spark, sf_dir, tmp_path):
    """write_range_sorted: per-file min/max ranges on the sort key are
    disjoint and ordered — the property that makes zone-map skipping
    prune to O(1) files."""
    import glob

    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sinks.parquet import (
        write_range_sorted,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    out = str(tmp_path / "sorted")
    write_range_sorted(orders, out, ["o_totalprice"], n_files=8)

    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= 2
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(
                F.min("o_totalprice").alias("lo"),
                F.max("o_totalprice").alias("hi"),
                F.count("*").alias("n"),
            )
            .first()
        )
        if r["n"]:
            ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered zone maps
    # nothing lost
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    with pytest.raises(ValueError):
        write_range_sorted(orders, out, [])


def _capture_server():
    """Local threaded HTTP server recording every POST (path, headers,
    body) — the test double for ClickHouse's HTTP interface."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    records = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            records.append((self.path, dict(self.headers), body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):  # silence per-request stderr noise
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, records


def test_clickhouse_http_sink_posts_all_partitions(spark):
    """S9 HTTP path: the DISTRIBUTED write mechanics exercised end to
    end — 4 tasks POST Arrow-batched JSONEachRow bodies to a capturing
    local server; the INSERT names its columns (backtick-quoted, table
    name included), auth headers travel, NULL becomes JSON null, and
    the union of the bodies reproduces the frame row-for-row."""
    import json
    from urllib.parse import parse_qs, urlparse

    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        write_clickhouse_http,
    )

    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = (
            spark.range(0, 1000)
            .select(
                F.col("id").alias("MUTATION_EVENT_ID"),
                F.concat(F.lit("chr"), (F.col("id") % 23).cast("string")).alias(
                    "CHR"
                ),
                # a quoting hazard and a NULL per residue class
                F.when(F.col("id") % 7 == 0, F.lit('a,"b"')).otherwise(
                    F.lit("plain")
                ).alias("NOTE"),
                F.when(F.col("id") % 11 == 0, F.lit(None).cast("string"))
                .otherwise(F.lit("x"))
                .alias("MAYBE"),
            )
            .repartition(4)
        )
        total = write_clickhouse_http(
            df, url, "cgds.mutation_event", user="ingest", password="pw"
        )
        assert total == 1000
        assert len(records) >= 4  # at least one POST per non-empty task
        rows = []
        for path, headers, body in records:
            q = parse_qs(urlparse(path).query)["query"][0]
            assert q.startswith(
                "INSERT INTO `cgds`.`mutation_event` "
                "(`MUTATION_EVENT_ID`, `CHR`, `NOTE`, `MAYBE`) "
                "FORMAT JSONEachRow"
            )
            # urllib normalizes header casing (X-clickhouse-user);
            # HTTP headers are case-insensitive, compare accordingly
            lower = {k.lower(): v for k, v in headers.items()}
            assert lower["x-clickhouse-user"] == "ingest"
            assert lower["x-clickhouse-key"] == "pw"
            rows.extend(
                json.loads(line)
                for line in body.decode("utf-8").split("\n") if line
            )
        assert len(rows) == 1000
        by_id = {r["MUTATION_EVENT_ID"]: r for r in rows}
        assert sorted(by_id) == list(range(1000))
        assert by_id[0]["NOTE"] == 'a,"b"' and by_id[1]["NOTE"] == "plain"
        # NULL convention: JSON null, never a sentinel string
        assert by_id[0]["MAYBE"] is None and by_id[1]["MAYBE"] == "x"
        assert by_id[3]["CHR"] == "chr3"
    finally:
        srv.shutdown()


def test_clickhouse_http_sink_fidelity_edges(spark):
    """Round-10 advice regression: the exact silent-corruption edges
    CSV carried. A BIGINT column whose batch holds a NULL (Arrow
    widens to float64 — values must still arrive as exact JSON ints,
    never 123.0, pinned at 2^63-8); a string equal to the literal
    two-character ``\\N`` CSV-NULL sentinel; strings with backslashes,
    embedded newlines, and non-ASCII — all must round-trip
    value-exact through the JSONEachRow body."""
    import json

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        write_clickhouse_http,
    )

    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        big = 9223372036854775800  # 2^63-8: float64 would mangle it
        data = [
            (big, "C:\\dir\\file", "ok"),
            (None, "\\N", "null-int-in-batch"),
            (7, "line1\nline2", "café ☕"),
        ]
        df = spark.createDataFrame(
            data, "BIG_ID long, PATHY string, NOTE string"
        ).coalesce(1)
        total = write_clickhouse_http(df, url, "edge")
        assert total == 3
        rows = []
        for _path, _headers, body in records:
            rows.extend(
                json.loads(line)
                for line in body.decode("utf-8").split("\n") if line
            )
        by_note = {r["NOTE"]: r for r in rows}
        got_big = by_note["ok"]["BIG_ID"]
        assert got_big == big and isinstance(got_big, int)
        assert by_note["null-int-in-batch"]["BIG_ID"] is None
        assert by_note["null-int-in-batch"]["PATHY"] == "\\N"  # a STRING
        assert by_note["ok"]["PATHY"] == "C:\\dir\\file"
        assert by_note["café ☕"]["PATHY"] == "line1\nline2"
        assert by_note["café ☕"]["BIG_ID"] == 7
    finally:
        srv.shutdown()


def test_clickhouse_http_sink_float_and_decimal_fidelity(spark):
    """Self-review regression: pandas' JSON writer defaults to
    double_precision=10, silently rounding float64 (1e-15 became 0.0);
    the sink pins 15 (the writer's max — the documented residual is
    <=1 ulp on 16-17-digit shortest-repr values). DECIMALs never touch
    float64 at all: Arrow-cast to exact strings."""
    import json
    from decimal import Decimal

    from pyspark.sql import types as T

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        write_clickhouse_http,
    )

    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        schema = T.StructType(
            [
                T.StructField("F", T.DoubleType()),
                T.StructField("DEC", T.DecimalType(38, 2)),
                T.StructField("K", T.StringType()),
            ]
        )
        df = spark.createDataFrame(
            [
                (1e-15, Decimal("12345678901234567890.12"), "tiny"),
                (0.123456789012345, None, "digits15"),
                (None, Decimal("0.10"), "nullf"),
            ],
            schema,
        ).coalesce(1)
        assert write_clickhouse_http(df, url, "t") == 3
        rows = {}
        for _p, _h, body in records:
            for line in body.decode("utf-8").split("\n"):
                if line:
                    o = json.loads(line)
                    rows[o["K"]] = o
        assert rows["tiny"]["F"] == 1e-15  # NOT 0.0
        assert rows["digits15"]["F"] == 0.123456789012345  # 15 sig digits exact
        assert rows["nullf"]["F"] is None
        # decimals arrive as exact strings, never float-rounded
        assert rows["tiny"]["DEC"] == "12345678901234567890.12"
        assert rows["digits15"]["DEC"] is None
        assert rows["nullf"]["DEC"] == "0.10"
    finally:
        srv.shutdown()


def test_clickhouse_http_sink_temporal_columns(spark):
    """DATE columns serialize as bare YYYY-MM-DD strings (ClickHouse
    Date parser form; Arrow cast, not pandas' ISO-midnight),
    timestamps as UTC-marked ISO-8601 with MICROSECONDS (date_unit=us
    — the default ms would truncate; the Z marker needs ClickHouse's
    date_time_input_format=best_effort, noted in the sink docstring),
    NULLs as null."""
    import datetime as dt
    import json

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        write_clickhouse_http,
    )

    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = spark.createDataFrame(
            [
                (dt.date(2024, 2, 29), dt.datetime(2024, 1, 2, 3, 4, 5, 123456), "a"),
                (None, None, "b"),
            ],
            "D date, T timestamp, K string",
        ).coalesce(1)
        assert write_clickhouse_http(df, url, "tmp") == 2
        rows = {}
        for _p, _h, body in records:
            for line in body.decode("utf-8").split("\n"):
                if not line:
                    continue
                o = json.loads(line)
                rows[o["K"]] = o
        assert rows["a"]["D"] == "2024-02-29"
        assert rows["a"]["T"] == "2024-01-02T03:04:05.123456Z"
        assert rows["b"]["D"] is None and rows["b"]["T"] is None
    finally:
        srv.shutdown()


def test_clickhouse_http_insert_url_identifier_escaping():
    """Round-10 advice: identifiers are escaped, the table name is
    quoted part-by-part, and malformed table names fail loud instead
    of emitting broken SQL."""
    from urllib.parse import parse_qs, urlparse

    import pytest as _pytest

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        _insert_url,
    )

    url = _insert_url("http://h:8123", "db.t", ["a", "weird`col"])
    q = parse_qs(urlparse(url).query)["query"][0]
    assert q == (
        "INSERT INTO `db`.`t` (`a`, `weird``col`) FORMAT JSONEachRow"
    )
    with _pytest.raises(ValueError, match="malformed table"):
        _insert_url("http://h:8123", "db.", ["a"])
    # DDL shares the same quoting helpers (inserts and CREATE TABLE
    # can never disagree on escaping)
    from pyspark.sql import types as T

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse import (
        clickhouse_ddl,
    )

    ddl = clickhouse_ddl(
        T.StructType([T.StructField("we`ird", T.StringType())]), "t`bl"
    )
    assert "CREATE TABLE IF NOT EXISTS `t``bl`" in ddl
    assert "`we``ird`" in ddl


def test_clickhouse_http_sink_retry_duplicates_posted_batches(spark):
    """The documented at-least-once contract, pinned (round-10 verdict
    #2): a task that dies AFTER a successful POST re-sends that batch
    on its retry attempt. The capture server 500s exactly the second
    request it ever sees — attempt 1 lands batch 1 then fails on
    batch 2; the Spark retry (local[N,2] session) replays the whole
    task. The job still succeeds and reports the frame's true row
    count once; the capture log shows batch 1 twice, byte-identical
    (determinism is what lets MergeTree insert-block dedup absorb the
    replay)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        write_clickhouse_http,
    )

    ok_bodies: list[bytes] = []
    lock = threading.Lock()
    seen = [0]

    class FlakyOnce(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            with lock:
                seen[0] += 1
                fail = seen[0] == 2
                if not fail:
                    ok_bodies.append(body)
            self.send_response(500 if fail else 200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), FlakyOnce)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        df = (
            spark.range(0, 300)
            .select(F.col("id").cast("string").alias("v"))
            .coalesce(1)  # ONE task -> deterministic request order
        )
        total = write_clickhouse_http(
            df,
            f"http://127.0.0.1:{srv.server_address[1]}",
            "t",
            batch_rows=100,
        )
    finally:
        srv.shutdown()
    assert total == 300  # counted once, not once per attempt
    # attempt 1: batch1 ok, batch2 500 -> task fails; attempt 2:
    # batches 1,2,3 ok -> 4 successful bodies, batch 1 duplicated
    assert len(ok_bodies) == 4
    assert ok_bodies[0] == ok_bodies[1]  # byte-identical replay
    import json

    rows = [
        json.loads(line)["v"]
        for b in ok_bodies
        for line in b.decode("utf-8").split("\n") if line
    ]
    assert len(rows) == 400  # the documented duplication, visible
    assert sorted(set(rows), key=int) == [str(i) for i in range(300)]


def test_clickhouse_http_sink_batches_and_fails_loud(spark):
    """batch_rows bounds POST body size (few-large-inserts shape), and
    a non-2xx server response fails the job instead of dropping rows."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        write_clickhouse_http,
    )

    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        df = spark.range(0, 1000).select(
            F.col("id").cast("string").alias("v")
        ).repartition(2)
        total = write_clickhouse_http(df, url, "t", batch_rows=100)
        assert total == 1000
        # 2 tasks x ~500 rows at <=100-row flushes (Arrow batch bounds
        # can interleave accumulation, so >= is the stable assertion)
        assert len(records) >= 10
    finally:
        srv.shutdown()

    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Refuse(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            self.rfile.read(n)
            self.send_response(500)
            self.end_headers()

        def log_message(self, *a):
            pass

    bad = ThreadingHTTPServer(("127.0.0.1", 0), Refuse)
    threading.Thread(target=bad.serve_forever, daemon=True).start()
    try:
        with pytest.raises(Exception, match="500|HTTP"):
            write_clickhouse_http(
                spark.range(5).select(F.col("id").cast("string").alias("v")),
                f"http://127.0.0.1:{bad.server_address[1]}",
                "t",
            )
    finally:
        bad.shutdown()


def test_load_clickhouse_end_to_end(spark, tmp_path):
    """The S9 deployment tail: convert a study tree, then
    load-clickhouse pushes every catalog table over the HTTP interface
    — DDL first (driver-side), then one distributed insert job per
    table; combine outputs excluded whatever their -output name; row
    counts and body contents verified against the parquet ground
    truth."""
    import json
    from urllib.parse import parse_qs, urlparse

    from clickhouse_only_importer_prototype_spark.plans import pipelines

    root = tmp_path / "studies_l"
    d = root / "s_l"
    d.mkdir(parents=True)
    (d / "meta_cna.txt").write_text(
        "cancer_study_identifier: s_l\nstable_id: gistic\n"
        "data_filename: data_cna.txt\n"
    )
    (d / "data_cna.txt").write_text(
        "Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\nTP53\t7157\t0\t-1\n"
    )
    (d / "meta_mutations.txt").write_text(
        "cancer_study_identifier: s_l\nstable_id: mutations\n"
        "data_filename: data_mutations.txt\n"
    )
    (d / "data_mutations.txt").write_text(
        "Hugo_Symbol\tEntrez_Gene_Id\tTumor_Sample_Barcode\n"
        "TP53\t7157\tS1\nKRAS\t3845\tS2\n"
    )
    out = tmp_path / "out_l"
    assert pipelines.convert_cna(
        spark, str(root), str(out), with_derived=True
    ).ok
    assert pipelines.convert_mutations(spark, str(root), str(out)).ok
    # combine outputs duplicate the per-file rows and must NOT be
    # loaded: the default combined-* name and a custom -output name
    pipelines.combine_cna(spark, str(out), with_derived=True)
    pipelines.combine_cna(
        spark, str(out), with_derived=True, output="merged.parquet"
    )
    pipelines.combine_mutations(spark, str(out), output="merged.parquet")
    # nor may a later combine fold the earlier combine outputs in
    pipelines.combine_cna(
        spark, str(out), with_derived=True, output="other.parquet"
    )
    pipelines.combine_mutations(spark, str(out), output="other.parquet")

    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        counts = pipelines.load_clickhouse(
            spark, str(out), url, user="u", password="p"
        )
    finally:
        srv.shutdown()
    assert counts == {
        "genetic_alterations": 1,
        "genetic_profile_samples": 1,
        "derived": 2,
        "mutation_event": 2,
        "mutation": 2,
    }
    assert {
        k: spark.read.parquet(str(out / f"other_{k}.parquet")).count()
        for k in counts
    } == counts
    ddl_stmts = []
    inserted: dict[str, list] = {}
    for path, headers, body in records:
        q = parse_qs(urlparse(path).query).get("query", [None])[0]
        text = body.decode("utf-8")
        if q is None:  # DDL travels as the body
            ddl_stmts.append(text)
        else:
            table = q.split()[2].strip("`")
            inserted.setdefault(table, []).extend(
                json.loads(line) for line in text.split("\n") if line
            )
    assert len(ddl_stmts) == 5
    assert all("CREATE TABLE IF NOT EXISTS" in s for s in ddl_stmts)
    assert {len(v) for t, v in inserted.items()} == {1, 2}
    ga = inserted["genetic_alterations"]
    assert ga == [
        {
            "CANCER_STUDY": "s_l",
            "GENETIC_PROFILE": "s_l_gistic",
            "GENE_SYMBOL": "TP53",
            "VALUES": "0,-1",
        }
    ]
    ev_ids = sorted(r["MUTATION_EVENT_ID"] for r in inserted["mutation_event"])
    assert ev_ids == [0, 1]


def test_load_clickhouse_rejects_drifted_footer_schema(spark, tmp_path):
    """load_clickhouse reads each table with its declared schema, so a
    part file whose columns differ from it (here swapped) must raise,
    naming the file, before any DDL or row is sent."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    from clickhouse_only_importer_prototype_spark.plans import pipelines

    out = tmp_path / "out_drift" / "s_x_data_mutations_mutation.parquet"
    out.mkdir(parents=True)
    (out / "_SUCCESS").write_text("")
    pa_pq.write_table(
        pa.table({"SAMPLE_ID": ["a"], "MUTATION_EVENT_ID": [0]}),
        out / "part-00000.parquet",
    )
    srv, records = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        with pytest.raises(ValueError, match="part-00000.parquet has columns"):
            pipelines.load_clickhouse(spark, str(out.parent), url)
    finally:
        srv.shutdown()
    assert records == []


def test_import_job_budget(spark, tmp_path, count_jobs):
    """Spark jobs per call on a 2-study tree. convert_cna's guard rides
    on its first staged write (no guard pass), convert_mutations ranks
    its ids map-side (no window exchange per table), and load_clickhouse
    reads each table with its declared schema (no inference job) and
    posts it in one job (no aggregation). The previous design ran 9, 12
    and 3 per loaded table."""
    from clickhouse_only_importer_prototype_spark.plans import pipelines

    root = tmp_path / "studies_j"
    for name, gene in (("s_j1", "TP53\t7157"), ("s_j2", "KRAS\t3845")):
        d = root / name
        d.mkdir(parents=True)
        for kind, body in (
            ("cna", f"Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\n{gene}\t0\t-1\n"),
            (
                "mutations",
                "#version 2.4\nHugo_Symbol\tEntrez_Gene_Id\t"
                f"Tumor_Sample_Barcode\n{gene}\tS1\n{gene}\tS2\n",
            ),
        ):
            (d / f"meta_{kind}.txt").write_text(
                f"cancer_study_identifier: {name}\nstable_id: {kind}\n"
                f"data_filename: data_{kind}.txt\n"
            )
            (d / f"data_{kind}.txt").write_text(body)
    out = str(tmp_path / "out_j")
    cna, cna_jobs = count_jobs(
        lambda: pipelines.convert_cna(spark, str(root), out, with_derived=True)
    )
    mut, mut_jobs = count_jobs(
        lambda: pipelines.convert_mutations(spark, str(root), out)
    )
    srv, _ = _capture_server()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        counts, load_jobs = count_jobs(
            lambda: pipelines.load_clickhouse(spark, out, url)
        )
    finally:
        srv.shutdown()
    assert cna.ok and mut.ok and len(counts) == 5
    assert (cna_jobs, mut_jobs, load_jobs) == (6, 10, 5)
