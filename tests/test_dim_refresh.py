"""j16: mid-stream dim refresh — swap visibility and fresh-read discipline."""

from __future__ import annotations

import glob
import os

from conftest import SF_DIR
from pyspark.sql import functions as F


def test_j16_v2_names_appear_only_after_swap(spark):
    """Batches BEFORE the swap slice must join v1 names only; batches at
    or after it must show the renamed even keys — the per-batch fresh
    read actually observed the overwritten dim store."""
    from real_time_data_warehouse_spark.operators.dim_refresh import (
        _SWAP_SLICE,
        _j16_build,
    )
    from real_time_data_warehouse_spark.tables import Tables

    base = _j16_build(spark, SF_DIR)
    out = os.path.join(base, "out")
    batch_dirs = sorted(
        glob.glob(os.path.join(out, "batch_id=*")),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    assert len(batch_dirs) >= 3  # enough batches to straddle the swap

    # recompute each batch's slice the way the build does (min wire-ts)
    ev = Tables(spark, SF_DIR).events
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    span = (hi - lo) + 1
    n = len(batch_dirs)
    saw_pre = saw_post = False
    for d in batch_dirs:
        b = spark.read.parquet(d)
        mn = b.join(
            ev.select("event_id", F.unix_micros("ts").alias("us")),
            "event_id",
        ).agg(F.min("us")).first()[0]
        sl = min(3, (mn - lo) * 4 // span)
        n_v2 = b.where(F.col("province_name").endswith("_v2")).count()
        if sl < _SWAP_SLICE:
            assert n_v2 == 0, f"stale-read inversion: v2 names before the swap in {d}"
            saw_pre = True
        else:
            # even-keyed users exist in every slice at this data scale
            assert n_v2 > 0, f"swap not visible: no v2 names in {d}"
            saw_post = True
    assert saw_pre and saw_post  # the stream genuinely straddled the swap


def test_j16_dim_store_ends_at_v2(spark):
    """After the run the store on disk is generation v2: even keys
    renamed, odd keys untouched — keyed granularity, not a reload."""
    from real_time_data_warehouse_spark.operators.dim_refresh import (
        _j16_build,
    )

    base = _j16_build(spark, SF_DIR)
    dim = spark.read.parquet(os.path.join(base, "dim"))
    rows = {r["province_id"]: r["province_name"] for r in dim.collect()}
    assert len(rows) == 25
    for k, name in rows.items():
        if k % 2 == 0:
            assert name.endswith("_v2"), (k, name)
        else:
            assert not name.endswith("_v2"), (k, name)


def test_j16b_dim_store_drops_deleted_keys(spark):
    """After j16b's run the store is v2-with-deletes: mod-5 keys gone,
    surviving even keys renamed, surviving odd keys untouched."""
    from real_time_data_warehouse_spark.operators.dim_refresh import (
        _DEL_MOD,
        _j16_build,
    )

    base = _j16_build(spark, SF_DIR, kind="j16b", deletes=True)
    dim = spark.read.parquet(os.path.join(base, "dim"))
    rows = {r["province_id"]: r["province_name"] for r in dim.collect()}
    assert len(rows) == 25 - len(range(0, 25, _DEL_MOD))
    for k, name in rows.items():
        assert k % _DEL_MOD != 0, f"deleted key {k} still in the store"
        assert name.endswith("_v2") == (k % 2 == 0), (k, name)


def test_j16_builds_write_their_progress_records(spark):
    """The build harness dumps every streaming build's progress records
    into its base dir, j16's and j16b's included."""
    from real_time_data_warehouse_spark.operators.dim_refresh import (
        _j16_build,
    )

    for base in (
        _j16_build(spark, SF_DIR),
        _j16_build(spark, SF_DIR, kind="j16b", deletes=True),
    ):
        with open(os.path.join(base, "progress.jsonl")) as f:
            assert f.readline(), base
