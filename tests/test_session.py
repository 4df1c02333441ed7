"""The engine conf table: every ``session.ENGINE_CONF`` value reaches a
session ``get_spark`` built and a session built elsewhere (through
``queries.load``), once per session, and no package module but
``session.py`` declares one of its values. Also ``queries.load``'s
cached schema, which must follow a table rewritten in place."""

from __future__ import annotations

import ast
from pathlib import Path

from clickhouse_only_importer_prototype_spark import queries as q, session
from clickhouse_only_importer_prototype_spark.session import (
    ENGINE_CONF,
    get_spark,
)

# a valid non-engine value per key; a key added to ENGINE_CONF must be
# added here too
_OTHER = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "64",
    "spark.sql.adaptive.skewJoin.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "1m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "1m",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1MB",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "2GB",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.session.timeZone": "America/New_York",
}


def _conf(s) -> dict[str, str]:
    return {k: s.conf.get(k) for k in ENGINE_CONF}


def test_get_spark_session_reads_engine_conf(spark):
    # runtime-settable, so ensure_conf needs no per-key fallback
    assert all(spark.conf.isModifiable(k) for k in ENGINE_CONF)
    # the context get_spark built carries the table, and a fresh
    # session on it reads every value
    sc_conf = spark.sparkContext.getConf()
    assert {k: sc_conf.get(k) for k in ENGINE_CONF} == ENGINE_CONF
    assert _conf(spark.newSession()) == ENGINE_CONF


def test_load_restores_engine_conf_once_per_application(spark, sf_dir):
    # a second session on the same application stands in for a session
    # built elsewhere, without touching the shared test session's conf
    other = spark.newSession()
    assert set(_OTHER) == set(ENGINE_CONF)
    key = session._session_key(other)
    for drift in ("unset", "changed"):
        for k in ENGINE_CONF:
            if drift == "unset":
                other.conf.unset(k)
            else:
                other.conf.set(k, _OTHER[k])
        assert _conf(other) != ENGINE_CONF
        session._CONF_APPLIED.discard(key)
        q.load(other, sf_dir, "region")
        assert _conf(other) == ENGINE_CONF, drift
    # applied once: a key changed after the first load keeps its value
    other.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    q.load(other, sf_dir, "nation")
    assert other.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"


def test_load_applies_engine_conf_to_new_session(spark, sf_dir):
    # a new session of an application that already holds the table has
    # its own SQL conf; the first load() on it applies the table
    key = "spark.sql.adaptive.skewJoin.enabled"
    other = spark.newSession()
    other.conf.set(key, _OTHER[key])
    q.load(other, sf_dir, "region")
    assert other.conf.get(key) == ENGINE_CONF[key]
    assert session._session_key(other) != session._session_key(spark)
    assert session._session_key(other) == session._session_key(other)


def test_get_spark_applies_engine_conf_to_reused_session(spark):
    key = "spark.sql.adaptive.skewJoin.enabled"
    try:
        spark.conf.set(key, "false")
        session._CONF_APPLIED.discard(session._session_key(spark))
        assert get_spark() is spark
        assert spark.conf.get(key) == ENGINE_CONF[key]
        spark.conf.set(key, "false")
        get_spark()
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, ENGINE_CONF[key])


def test_load_schema_follows_table_rewritten_in_place(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    assert q.load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": [2]}), path)
    assert spark.read.parquet(path).columns == ["a", "b"]
    assert q.load(spark, str(tmp_path), "t").columns == ["a", "b"]
    assert q._footer_rows(str(tmp_path), "t") == 1


def _engine_conf_sets(path: Path) -> list[str]:
    """``conf.set`` calls in ``path`` that write an ENGINE_CONF key with
    a value of their own, or whose key is not a literal (so cannot be
    checked), unless they take the value from ENGINE_CONF itself."""
    tree = ast.parse(path.read_text())
    stream_twin = [
        (n.lineno, n.end_lineno)
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_stream_twin"
    ]
    found = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            continue
        key, value = node.args[0], node.args[1]
        if isinstance(key, ast.Constant):
            if key.value not in ENGINE_CONF:
                continue
            # the streaming twin's scoped state-partition pin, restored
            # on every exit path
            if key.value == "spark.sql.shuffle.partitions" and any(
                a <= node.lineno <= b for a, b in stream_twin
            ):
                continue
        elif (
            isinstance(value, ast.Subscript)
            and isinstance(value.value, ast.Name)
            and value.value.id == "ENGINE_CONF"
        ):
            continue
        found.append(f"{path.name}:{node.lineno}")
    return found


def test_engine_conf_declared_only_in_session():
    pkg = Path(session.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path != Path(session.__file__):
            found += _engine_conf_sets(path)
    assert found == []
