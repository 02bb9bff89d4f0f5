"""Spark jobs per micro-batch for the keyed replay appliers and the
app5s fan-out chain.

Each applier runs through ``_replay_batches`` (4 ascending event_id
batches of the sf0.001 events table, the replay rows' split), every
batch under its own job group, and the jobs Spark ran for that group
are counted through ``statusTracker().getJobIdsForGroup``. The pinned
counts were measured with this test's session; a change that adds a
job to any batch of these appliers fails here. Lower counts pass:
lower the pin with them.

app5s runs as a real streaming query, whose micro-batch jobs Spark
groups under the query's ``runId``.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from real_time_data_warehouse_spark.operators.gate_replay import (
    _N_BATCHES,
    _replay_batches,
)
from real_time_data_warehouse_spark.streaming import (
    distinct_agg,
    last_wins,
    scd2,
    visit_stats,
    window_agg,
)
from real_time_data_warehouse_spark.tables import Tables
from tests.conftest import SF_DIR

# applier, input columns, max jobs per batch (batches 0..3)
APPLIERS = {
    "last_wins": (
        last_wins.apply_last_wins_batch,
        ("event_id", "user_id", "event_type", "ts", "value"),
        (3, 3, 3, 3),
    ),
    "window_agg": (
        window_agg.apply_window_batch,
        ("event_id", "ts", "event_type", "value"),
        (5, 5, 5, 5),
    ),
    "distinct_agg": (
        distinct_agg.apply_distinct_batch,
        ("event_id", "user_id", "ts", "event_type"),
        (7, 7, 7, 7),
    ),
    "daily_uv": (
        visit_stats.apply_daily_uv_batch,
        ("event_id", "user_id", "ts"),
        (7, 7, 7, 7),
    ),
    "session_count": (
        visit_stats.apply_session_count_batch,
        ("event_id", "user_id", "ts"),
        (5, 5, 5, 5),
    ),
    "scd2": (
        scd2.apply_scd2_batch,
        ("user_id", "event_type", "ts", "event_id"),
        (8, 8, 8, 8),
    ),
}


def _jobs_per_batch(spark, apply_batch, rows, name):
    sc = spark.sparkContext
    groups = []

    def counted(sp, batch, b, state_dir, out_dir):
        groups.append(f"jobs-per-batch-{name}-{b}")
        sc.setJobGroup(groups[-1], groups[-1])
        try:
            apply_batch(sp, batch, b, state_dir, out_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    _replay_batches(
        spark, rows, "event_id", counted, finalize=lambda sp, _: sp.range(0)
    )
    # the status store fills from the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return tuple(len(tracker.getJobIdsForGroup(g)) for g in groups)


@pytest.mark.parametrize("name", sorted(APPLIERS))
def test_jobs_per_batch_not_above_pin(spark, name):
    apply_batch, cols, pinned = APPLIERS[name]
    rows = Tables(spark, SF_DIR).events.select(*cols)
    got = _jobs_per_batch(spark, apply_batch, rows, name)
    assert len(got) == _N_BATCHES
    assert all(g > 0 for g in got), f"{name}: no jobs recorded {got}"
    assert all(g <= p for g, p in zip(got, pinned)), (
        f"{name}: jobs per batch {got} exceed the pin {pinned}"
    )


def test_app5s_one_job_per_epoch_and_three_readback_jobs(spark, tmp_path):
    """app5s writes each epoch in ONE job (the keyed-state plan feeding
    one side-partitioned write) and reads its sink back in at most 3."""
    from real_time_data_warehouse_spark.operators.app_chains import (
        _app5s_build,
        app5s_base_log_stream_chain,
    )

    # a new data dir: the session's artifact cache misses and builds cold
    data = str(tmp_path / "fixture")
    shutil.copytree(SF_DIR, data)
    base = _app5s_build(spark, data)
    # progress records of the query restarted after the injected crash
    with open(os.path.join(base, "progress.jsonl")) as f:
        records = [json.loads(line) for line in f]
    (run_id,) = {r["runId"] for r in records}
    epochs = {r["batchId"] for r in records}
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup(run_id)) == len(epochs), epochs

    group = "jobs-per-batch-app5s-readback"
    sc.setJobGroup(group, group)
    try:
        rows = app5s_base_log_stream_chain(spark, data).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(rows) == 6
    assert 0 < len(tracker.getJobIdsForGroup(group)) <= 3
