"""Compile and infer once per session.

A parquet schema is inferred once per file identity
(catalog._read_parquet), parquet the engine has just written is read
back with the writer's schema, and the codegen cache is large enough
that running a query a second time compiles no class.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from cubert_spark import catalog
from cubert_spark.session import codegen_compiles


def _with_jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs it fired), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_fires_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    d = str(tmp_path)
    first, n_first = _with_jobs(spark, "memo-first", lambda: catalog.load_table(spark, d, "orders"))
    second, n_second = _with_jobs(spark, "memo-second", lambda: catalog.load_table(spark, d, "orders"))
    assert n_first >= 1  # the inference job the memo saves
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_memoized_events_ts_is_timestamp_ntz(spark, tmp_path):
    # TIMESTAMP(NANOS): inferred as long nanos, then converted
    ts = [dt.datetime(2024, 1, 1, 0, 0, 1, 123456), dt.datetime(2024, 1, 2)]
    pq.write_table(
        pa.table({"event_id": [0, 1], "ts": pa.array(ts, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    d = str(tmp_path)
    first = catalog.load_table(spark, d, "events")
    second, n = _with_jobs(spark, "memo-events", lambda: catalog.load_table(spark, d, "events"))
    assert n == 0
    for df in (first, second):
        assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
        assert [r.ts for r in df.orderBy("event_id").collect()] == ts


def test_merge_roundtrip_reads_back_with_the_writer_schema(spark, sf_dir):
    from cubert_spark.queries.extensions import (
        _MATERIALIZED,
        q_merge_roundtrip,
        reset_materialized,
    )

    reset_materialized()
    try:
        q_merge_roundtrip(spark, sf_dir)
        path = _MATERIALIZED[(spark.sparkContext.applicationId, sf_dir.rstrip("/"), "merge_rt")]
        written, n = _with_jobs(spark, "memo-merge", lambda: catalog._read_parquet(spark, path))
        assert n == 0
        assert written.schema == spark.read.parquet(path).schema
    finally:
        reset_materialized()
    assert path not in catalog._SCHEMAS  # forgotten with the reclaimed dir


def test_second_run_compiles_no_class(spark, sf_dir):
    from cubert_spark.queries import all_queries, folded_queries
    from cubert_spark.queries.extensions import reset_materialized

    queries = {**all_queries(), **folded_queries()}

    def run():
        for name in ("golden_record", "bpe_apply_exact", "merge_roundtrip"):
            reset_materialized()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        reset_materialized()

    run()
    before = codegen_compiles(spark)
    run()
    assert codegen_compiles(spark) == before
