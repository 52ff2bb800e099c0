"""`session.local_frame`: driver-built control-plane frames plan as a
JVM ``LocalTableScan`` -- never a Python RDD -- so the per-drop
listing, ledger and status writes start no PySpark Python worker."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dataingestionengineprocess_spark.engine import IngestionEngine
from dataingestionengineprocess_spark.operators.quality import not_null
from dataingestionengineprocess_spark.pipeline import FeedConfig, SinkConfig
from dataingestionengineprocess_spark.session import local_frame
from dataingestionengineprocess_spark.sinks.warehouse import RunStatus
from dataingestionengineprocess_spark.streaming.telemetry import (
    _SCHEMA as PROGRESS_DDL,
    ParquetMetricsExporter,
    emit_run_status,
    read_progress,
)

PKG = Path(__file__).resolve().parent.parent / "dataingestionengineprocess_spark"

#: the per-drop control-plane modules that must build frames via
#: `local_frame`, never `spark.createDataFrame(<python list>)`
CONTROL_PLANE = [
    "pipeline.py",
    "sinks/warehouse.py",
    "sinks/versioned.py",
    "streaming/telemetry.py",
    "sources/csv_source.py",
]

STATUS_DDL = (
    "run_id string, feed string, rows_read long, rows_loaded long, "
    "rows_rejected long, rows_quarantined long, started_at double, "
    "finished_at double, duration_s double, status string"
)
LEDGER_DDL = "path string, size long, mtime_ms long, run_id string"


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_python_rdd(monkeypatch):
    """Any `createDataFrame(<python list>)` fails while this is active."""
    def _refuse(self, data, schema):
        raise AssertionError("driver frame built as a Python RDD")

    monkeypatch.setattr(SparkSession, "_createFromLocal", _refuse)


def test_plans_as_local_table_scan(spark):
    df = local_frame(spark, [("a", 1, 2)], "path string, size long, mtime_ms long")
    plan = _executed_plan(df.coalesce(1))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_runs_with_arrow_conf_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [("a", 1)], "s string, n long")
        assert "LocalTableScan" in _executed_plan(df)
        assert df.collect()[0].n == 1
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("ddl", [STATUS_DDL, LEDGER_DDL, PROGRESS_DDL,
                                 "version int, app string, epoch long, "
                                 "bytes long, n_files int, "
                                 "is_current boolean"])
def test_schema_matches_python_list_path(spark, ddl):
    struct = T.StructType.fromDDL(ddl)
    row = tuple(None for _ in struct)
    ours = local_frame(spark, [row], ddl)
    theirs = spark.createDataFrame([row], ddl)
    assert ours.schema == theirs.schema  # StructField == includes nullable


def test_struct_schema_keeps_nullability(spark):
    struct = T.StructType([
        T.StructField("k", T.LongType(), nullable=False),
        T.StructField("v", T.StringType(), nullable=True),
    ])
    ours = local_frame(spark, [(1, None)], struct)
    assert ours.schema == spark.createDataFrame([(1, None)], struct).schema
    assert ours.collect()[0].asDict() == {"k": 1, "v": None}


def test_zero_rows_none_values_and_non_ascii(spark, tmp_path):
    empty = local_frame(spark, [], LEDGER_DDL)
    assert empty.count() == 0
    assert empty.schema == T.StructType.fromDDL(LEDGER_DDL)

    rows = [
        ("file:///landing/größe/数据-1.csv", 10, 1_700_000_000_000, "r1"),
        ("file:///landing/ñ.csv", None, None, None),
    ]
    df = local_frame(spark, rows, LEDGER_DDL)
    assert sorted(map(tuple, df.collect()), key=str) == sorted(rows, key=str)
    out = str(tmp_path / "t")
    df.coalesce(1).write.parquet(out)
    assert sorted(map(tuple, spark.read.parquet(out).collect()),
                  key=str) == sorted(rows, key=str)


def test_row_width_mismatch_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1, 2, "r", "extra")], LEDGER_DDL)


def _feed() -> FeedConfig:
    return FeedConfig(
        name="mini",
        schema=T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]),
        key_cols=["id"], order_col="id", rules=[not_null("id")],
    )


def test_sweep_status_and_progress_need_no_python_rdd(spark, tmp_path,
                                                      no_python_rdd):
    wh = str(tmp_path / "wh")
    engine = IngestionEngine(
        spark, SinkConfig(warehouse_dir=wh, oltp_dir=str(tmp_path / "oltp")))
    engine.register_feed(_feed())
    landing = tmp_path / "landing é"
    landing.mkdir()
    (landing / "a.csv").write_text("id,v\n1,10.0\n2,20.0\n")
    (landing / "b.csv").write_text("id,v\n3,30.0\n")

    status = engine.run_sweep("mini", str(landing))
    assert status is not None and status.rows_loaded == 3
    assert engine.run_sweep("mini", str(landing)) is None

    # `_runs`: same columns, types and values the Python-list writer
    # produced (run_id comes back as the partition column, last)
    runs = engine.status()
    assert runs.dtypes == [
        ("feed", "string"), ("rows_read", "bigint"),
        ("rows_loaded", "bigint"), ("rows_rejected", "bigint"),
        ("rows_quarantined", "bigint"), ("started_at", "double"),
        ("finished_at", "double"), ("duration_s", "double"),
        ("status", "string"), ("run_id", "string"),
    ]
    (r,) = runs.collect()
    assert (r.run_id, r.feed, r.rows_read, r.rows_loaded, r.rows_rejected,
            r.rows_quarantined, r.status) == (
        status.run_id, "mini", 3, 3, 0, 0, "SUCCEEDED")
    assert r.started_at == status.started_at
    assert r.finished_at == status.finished_at
    assert r.duration_s == round(status.finished_at - status.started_at, 3)

    # `<feed>_ledger`: one row per swept file identity
    ledger = spark.read.parquet(os.path.join(wh, "mini_ledger"))
    assert ledger.dtypes == [("path", "string"), ("size", "bigint"),
                             ("mtime_ms", "bigint"), ("run_id", "string")]
    got = {(x.path.rsplit("/", 1)[-1], x.size, x.run_id)
           for x in ledger.collect()}
    assert got == {
        ("a.csv", (landing / "a.csv").stat().st_size, status.run_id),
        ("b.csv", (landing / "b.csv").stat().st_size, status.run_id),
    }
    assert all(x.path.startswith("file:") and "landing é" in x.path
               for x in ledger.collect())

    # status re-emit for the same run replaces its row
    emit_run_status(spark, SinkConfig(warehouse_dir=wh), RunStatus(
        run_id=status.run_id, feed="mini", rows_read=3, rows_loaded=3,
        rows_rejected=0, rows_quarantined=0, started_at=1.0,
        finished_at=2.5, status="RETRIED"))
    (r,) = engine.status().collect()
    assert (r.status, r.duration_s) == ("RETRIED", 1.5)

    progress = [
        ("q", "run", 0, None, 5, 1.5, 2.0, 12, "progress",
         "2026-01-01T00:00:00.000Z"),
        ("q", "run", -1, "ñame", 0, 0.0, 0.0, 0, "terminated", ""),
    ]
    ParquetMetricsExporter(wh).export_progress(spark, progress)
    back = read_progress(spark, wh)
    assert back.schema == T.StructType.fromDDL(PROGRESS_DDL)
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        progress, key=str)


def test_csv_rejects_and_history_need_no_python_rdd(spark, tmp_path,
                                                    no_python_rdd):
    from dataingestionengineprocess_spark.sinks.versioned import (
        VersionedTable,
    )
    from dataingestionengineprocess_spark.sources.csv_source import (
        read_csv_feed,
    )

    src = tmp_path / "d.csv"
    src.write_text("id,v\n1,10.0\nx,oops\n")
    batch = read_csv_feed(spark, str(src), _feed().schema,
                          mode="DROPMALFORMED")
    assert batch.rejects.count() == 0
    assert batch.rejects.columns == ["raw_record", "_source_file"]
    assert len(batch.clean.collect()) == 1

    vt = VersionedTable(spark, str(tmp_path / "vt"))
    vt.publish(spark.range(3))
    hist = vt.history()
    assert hist.dtypes == [
        ("version", "int"), ("app", "string"), ("epoch", "bigint"),
        ("bytes", "bigint"), ("n_files", "int"), ("is_current", "boolean"),
    ]
    (h,) = hist.collect()
    assert h.version == 1 and h.is_current and h.n_files >= 1


@pytest.mark.parametrize("rel", CONTROL_PLANE)
def test_control_plane_never_calls_create_dataframe(rel):
    """A direct `.createDataFrame(` in these modules would bring the
    Python-worker path back into every drop unnoticed."""
    tree = ast.parse((PKG / rel).read_text(), filename=rel)
    calls = [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not calls, (
        f"{rel} calls createDataFrame at lines {calls}; build driver-side "
        "frames with session.local_frame")
