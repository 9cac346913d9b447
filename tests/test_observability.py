"""O33 metrics: listener counts batches/rows, sink hook counts ops,
prometheus exposition renders."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

from pyspark.sql import Row

from go_pq_cdc_spark.observability import CdcMetricsListener
from go_pq_cdc_spark.streaming.changelog_stream import FLAT_CHANGE_SCHEMA, file_change_stream


def test_metrics_listener_and_op_counters(spark):
    base = tempfile.mkdtemp(prefix="gpcs_obs_")
    try:
        listener = CdcMetricsListener()
        spark.streams.addListener(listener)
        rows = [
            Row(op="I", lsn=1, xid=1, commit_ts=datetime.datetime(2024, 1, 1), pk=1, after_val=1.0),
            Row(op="U", lsn=2, xid=1, commit_ts=datetime.datetime(2024, 1, 1), pk=1, after_val=2.0),
            Row(op="D", lsn=3, xid=2, commit_ts=datetime.datetime(2024, 1, 1), pk=1, after_val=None),
        ]
        spark.createDataFrame(rows, FLAT_CHANGE_SCHEMA).coalesce(1).write.parquet(
            os.path.join(base, "in", "b0")
        )
        stream = file_change_stream(spark, os.path.join(base, "in") + "/*")
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(base, "ck"))
            .foreachBatch(lambda df, _e: listener.record_ops(df))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener callbacks are async — wait briefly for progress delivery
        import time

        for _ in range(20):
            if listener.get_status()["total_input_rows"] >= 3:
                break
            time.sleep(0.5)
        status = listener.get_status()
        assert status["ops"] == {"I": 1, "U": 1, "D": 1}
        assert status["total_input_rows"] >= 3
        assert status["batches"] >= 1
        listener.record_confirmed_lsn(3)
        text = listener.prometheus_text()
        assert 'go_pq_cdc_spark_ops_total{op="U"} 1' in text
        assert "go_pq_cdc_spark_confirmed_lsn 3" in text
        spark.streams.removeListener(listener)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_prometheus_mirror_tolerates_partial_report():
    """record_mirror accepts any report dict — wiring it to raw
    mirror_stats() output (which has no rebucket_recommended; only
    run_mirror_maintenance adds that) must not make /metrics raise
    (r11 advisor). Each mirror gauge renders iff its key is present."""
    listener = CdcMetricsListener()
    listener.record_mirror({"delta_files": 3})
    text = listener.prometheus_text()
    assert "go_pq_cdc_spark_mirror_delta_files 3" in text
    assert "rebucket_recommended" not in text

    listener.record_mirror({"delta_files": 1, "rebucket_recommended": True})
    text = listener.prometheus_text()
    assert "go_pq_cdc_spark_mirror_delta_files 1" in text
    assert "go_pq_cdc_spark_mirror_rebucket_recommended 1" in text


def test_grafana_dashboard_matches_exposition():
    """grafana/dashboard.json (the reference's dashboard analogue) must
    reference only metric names the /metrics exposition actually emits —
    a rename in prometheus_text() breaks this, not a user's dashboard."""
    import json
    import os
    import re

    from go_pq_cdc_spark.observability import CdcMetricsListener

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "grafana", "dashboard.json"
    )
    dash = json.load(open(path))
    exprs = " ".join(
        t["expr"] for p in dash["panels"] for t in p.get("targets", [])
    ) + " " + " ".join(v.get("query", "") for v in dash["templating"]["list"])
    wanted = set(re.findall(r"go_pq_cdc_spark_[a-z_]+", exprs))
    assert wanted, "dashboard references no engine metrics"

    listener = CdcMetricsListener()
    listener.record_confirmed_lsn(10)
    listener.record_frontier(20)
    listener.metrics.batches = 1
    listener.metrics.ops["I"] = 1
    emitted = set(re.findall(r"go_pq_cdc_spark_[a-z_]+", listener.prometheus_text()))
    assert wanted <= emitted, f"dashboard references unknown metrics: {wanted - emitted}"
