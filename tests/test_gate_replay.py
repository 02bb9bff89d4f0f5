"""The ``_replay_batches`` split (operators/gate_replay.py): every input
row reaches exactly one batch, whatever ``span`` the caller passes."""

from __future__ import annotations

from real_time_data_warehouse_spark.operators.gate_replay import (
    _N_BATCHES,
    _replay_batches,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    write_snapshot,
)


def test_stale_span_drops_no_rows(spark):
    """``span = max(id)`` is one too small: the max-id row lies past
    every bounded batch and must land in the open-ended last batch."""
    rows = spark.createDataFrame([(i,) for i in range(10)], "id long")
    seen = {}

    def finalize(spark_, out_dir):
        log = read_log(spark_, out_dir)
        seen.update({r["id"]: r["batch_id"] for r in log.collect()})
        return log.drop("batch_id")

    got = _replay_batches(
        spark,
        rows,
        "id",
        lambda sp, batch, b, _state, out: write_snapshot(batch, out, b),
        finalize=finalize,
        span=9,
    )
    assert sorted(r["id"] for r in got.collect()) == list(range(10))
    assert seen[9] == _N_BATCHES - 1
