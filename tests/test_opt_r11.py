"""Round-11 optimization pins: plan-shape and value-identity
assertions for the operator internals this round changed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covsonar_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-opt-r11")


def _fmt_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_cm_estimate_carries_extra_columns(spark):
    """cm_estimate rides key-determined extra columns through the probe
    aggregate — the value-identity that let sketch_countmin /
    stream_countmin drop their second corpus scan + join-back.  The
    carried form must equal the old join-back form exactly, and the
    carried query's plan must scan the corpus ONCE."""
    from covsonar_spark.operators.sketches import cm_cells, cm_estimate

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cells = cm_cells(ev, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_count"))

    carried = (cm_estimate(cells, exact.select(
        F.col("event_type").alias("key"), "exact_count"))
        .select("key", "cm_est", "exact_count"))
    joined = (cm_estimate(cells, exact.select(
        F.col("event_type").alias("key")))
        .join(exact.withColumnRenamed("event_type", "key"), "key")
        .select("key", "cm_est", "exact_count"))
    assert sorted(map(tuple, carried.collect())) == \
        sorted(map(tuple, joined.collect()))

    # the carried plan reads events for exactly one aggregate subtree
    # (plus the cells build): the join-back's extra scan is gone
    plan = _fmt_plan(carried)
    n_scans = sum(1 for line in plan.splitlines()
                  if line.strip().startswith("(") and "Scan parquet" in line)
    assert n_scans == 2, plan  # cells build + the single exact aggregate


def test_cm_estimate_rejects_probe_column_names(spark):
    """An extra keys column named like a probe column (i, bucket, cnt)
    would be joined on or overwritten and multiply a key's rows: it
    must raise instead of returning a wrong estimate."""
    from covsonar_spark.operators.sketches import cm_cells, cm_estimate

    ev = spark.createDataFrame([("a",), ("a",), ("b",)], "event_type string")
    cells = cm_cells(ev, "event_type")
    keys = spark.createDataFrame([("a", 2), ("b", 1)], "key string, cnt long")
    with pytest.raises(ValueError, match="cnt"):
        cm_estimate(cells, keys)


def test_sessionize_stateful_projects_before_state_shuffle(spark):
    """The stateful sessionizer reads only (user_id, ts_us) — the
    projection must sit BELOW the state exchange so the fat events
    columns (props json, event_type) never ride the shuffle or the
    Arrow boundary.  Value pin: output matches the batch sessionizer
    minus open tail sessions (the full equality lives in
    test_streaming.py); here we pin the plan shape on the batch twin
    of the stream plan."""
    from covsonar_spark.streaming.pipeline import sessionize_stateful

    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))))
    out = sessionize_stateful(ev)
    # applyInPandasWithState cannot be physically planned in batch, so
    # pin the ANALYZED plan: the state operator's direct child must be
    # the two-column projection (the optimizer then pushes the prune
    # into the streaming scan), never the full events row
    analyzed = str(out._jdf.queryExecution().analyzed())
    lines = analyzed.splitlines()
    assert lines[0].startswith("FlatMapGroupsInPandasWithState"), analyzed
    child = lines[1]
    assert "Project [user_id#" in child and "ts_us#" in child, analyzed
    assert "props" not in child and "event_type" not in child, analyzed
