"""Whole-app topologies as ONE streaming query each — driver-checked.

Every operator of every reference app is individually driver-verified
(COVERAGE.md app table), but until round 10 no registry row executed a
complete multi-operator app chain as a single Structured Streaming
query against a composed oracle. These rows close that gap:

- ``app1s``: the reference's DwdTradeOrderDetail
  (DwdTradeOrderDetail.java:84-135) — one topic_db stream filtered into
  per-table sub-streams, then chained through ST1 LWW dedup on each
  branch, the J1 stream-stream INNER equi-join (order_detail ⋈
  order_info), and BOTH J2 stream-stream LEFT OUTER joins (⟕
  order_detail_activity :106, then ⟕ order_detail_coupon :107-108) —
  SEVEN stateful operators in one query plan, matching the reference's
  full four-stream topology.
- ``app2s``: its DWS consumer DwsTradeProvinceOrderWindow
  (DwsTradeProvinceOrderWindow.java:74-191) — ST1 dedup by detail id
  (:74-99, the reference's retract-dedup state machine), the tumbling
  per-province windowed reduce with EXACT distinct-order counting
  (:139-168, ``orderIdSet`` → ``collect_set``), and the J5/J6 province
  dim enrichment (:171-191, DimAsyncFunction → per-batch broadcast
  hash join) — chained stateful ops ending in a stateless stream-static
  join.
- ``app3s``: DwsTradeSkuOrderWindow (:133-619) — JSON envelope filter,
  ST1 dedup, per-sku windowed reduce, and the 6-stage async dim chain
  as chained per-batch broadcasts.
- ``app4s``: the DIM-layer DimApp — CDC parse, broadcast config
  routing (TableProcessDim), per-table column pruning, keyed LWW
  upsert/delete into per-table dim stores, WITH a mid-stream crash +
  checkpoint restart (replay ≡ no-op under LWW).
- ``app5s``: DwdBaseLog — JSON-validity dirty side-output, keyed ST3
  visitor repair (applyInPandasWithState, dirty rows state-neutral),
  5-way split with child explosion into 6 foreachBatch sinks, crash +
  checkpoint restart.
- ``app6s``: DwsTrafficVcChArIsNewPageViewWindow — first-per-day UV
  dedup state UNIONED with the event-id-deduped pv/sv branch into the
  4-dim tumbling reduce (two keyed dedup states + window state).
- ``app7s``: DwsUserUserLoginWindow — the ST5 returning-user keyed
  state CHAINED into an update-mode per-date aggregate with LWW upsert
  delivery (custom keyed state feeding a downstream stateful aggregate
  in one plan — supported on Spark 4.1.2, established empirically).
- ``app8s``: DwsTrafficSourceKeywordPageViewWindow — search filter,
  ST1 dedup, tokenizer explode (stateless between the stateful pair),
  per-keyword tumbling count.
- ``app9s``-``app17s``: the remaining reference topologies (interval
  join + lookup, cancel/refund state gates, routing, UU windows);
  ``app9x``/``app7x`` additionally crash mid-stream and restart from
  the checkpoint — app9x over a depth-3 built-in-operator chain, app7x
  over the ST5 applyInPandasWithState KEYED PYTHON STATE (the per-user
  last_login_date must survive the restart).

Three execution-model facts make these rows exact (not
horizon-truncated like st14/j14):

1. **Duplicate injection.** The app source replays the last hour of
   each time slice into the following file (Maxwell/at-least-once
   redelivery). The watermark delay (2 h) exceeds the replay window,
   so the duplicates are on-time rows that ONLY the dedup state can
   suppress — remove ``dropDuplicatesWithinWatermark`` and both rows'
   checksums break. Dedup is load-bearing, not decorative.
2. **Sentinel flush.** Chained stateful operators emit with a
   one-batch watermark lag PER watermark-gated level (an outer join's
   null-padded rows flush against the PREVIOUS batch's watermark, and
   a second chained outer join lags one more batch behind that), so
   end-of-input would strand the tail region in state forever under
   availableNow, which runs only ONE trailing no-data batch. TWO
   final sentinel slices — non-joinable far-future rows (the
   idle-source heartbeat idiom), one per joined event type, the second
   slice 30 days past the first — push every branch's watermark past
   all real data and then advance it AGAIN, so sentinel-batch +
   sentinel-batch + trailing no-data batch flushes every window and
   every null-padded row through a depth-2 outer-join chain. The sink
   then equals the UNRESTRICTED batch oracle: no closed-region horizon
   math at all.
3. **Branch watermarks.** Each per-table sub-stream gets its own
   watermark AFTER its filter; the global watermark is the min across
   branches, which each sentinel slice advances on all four types at
   once.

Scale: the joins are key-partitioned symmetric hash joins whose state
is bounded by the time-range conditions (1 day back / 6 h forward ⇒
state ∝ arrival rate × range, independent of stream length); the
window agg keeps one row per (province, open window); the dim join is
a per-batch broadcast of the 25-row nation table. All of it shuffles
once on user_id/province and never collects to the driver — the same
plan shape survives 1000 executors.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import (
    dec_sum,
    oracle_dec_sum,
)
from real_time_data_warehouse_spark.operators.sink_readback import (
    _artifact_dir,
)
from real_time_data_warehouse_spark.operators.streaming_exec import (
    _SRC_FILES,
    _run_crash_restart,
    _sliced_source,
    _stream_shuffle_partitions,
    _write_time_sliced_source,
)
from real_time_data_warehouse_spark.registry import register
from real_time_data_warehouse_spark.streaming.monitor import dump_progress
from real_time_data_warehouse_spark.streaming.state_store import (
    read_log,
    run_epoch_stream,
    run_file_stream,
    write_snapshot,
)
from real_time_data_warehouse_spark.tables import Tables

_DELAY = "2 hours"  # watermark delay — must exceed the replay window

# Data-density parameters, ONE table (round-11 verdict task 6): each
# value is interpolated into BOTH an app's streaming plan and its DuckDB
# oracle f-string, so hoisting them here makes it impossible to move a
# stream's range/gate without moving its oracle. Ranges marked (scaled)
# widen the reference's production value for the ~2-orders-of-magnitude
# sparser synthetic corpus — same operator, same state shape, range is a
# data-density parameter (e.g. app11s: the reference bounds the cancel
# join's state at 30 min of real traffic, DwdTradeOrderCancelDetail
# .java:69-90; at 30 min the synthetic corpus has ZERO pairs at
# sf0.001).
_APP_PARAMS: dict[str, object] = {
    "oi_back": "INTERVAL 1 DAY",       # app1s J1: order_info lookback (scaled)
    "act_fwd": "INTERVAL 6 HOUR",      # app1s J2: activity lookahead (scaled)
    "cpn_fwd": "INTERVAL 1 HOUR",      # app1s J2#2: coupon lookahead (scaled)
    "pay_back": "INTERVAL 30 MINUTE",  # app9s/9x J4: od.et >= pi.et - 30 min
    "cancel_back": "INTERVAL 6 HOUR",  # app11s J3: 30-min state TTL (scaled)
    "cancel_gate": (10, 60),           # app11s P5: status 1001→1003 analog
    "refund_gate": (61, 90),           # app15s/17s P5: disjoint from cancel
    "app3_drop_mod": 10,               # app3s P1: JSON-prop filter k%10==0
    "app4_delete_mod": 17,             # app4s P1: k%17==0 → CDC delete
    "app5_dirty_mod": 53,              # app5s P2: every 53rd props mangled
    "app6_sv_mod": 7,                  # app6s: session-start flag k%7==0
    "app8_search_mod": 4,              # app8s P10: k%4==1 → search view
    "app13_dic": 5,                    # app13s: appraise-code domain k%5
    "app16_pages": {"home": 0, "good_detail": 3},  # app16s P8: k%6 page ids
}

# State-store partition count for the app-chain queries. A CHAINED
# topology multiplies the per-partition state-store overhead by the
# operator count: app1s at 32 partitions maintains 5 ops x 32 stores x
# N batches of commit/snapshot work, and the measured cold build was
# 89.9 s vs 22.9 s at 8 partitions on the SAME data (sf0.01, local) —
# a 3.9x tax with zero data-level benefit at artifact scale. 8 is
# right for the harness; a production deployment sizes this to
# ~2-3x cluster cores per the st14 note — a deploy-time conf, and the
# chain multiplier is exactly why chained jobs size it more carefully
# than single-op jobs.
_STATE_PARTS = 8
_REPLAY_NS = 3600 * 10**9  # 1 h of each slice re-delivered in the next
_SENT_NS = 30 * 86400 * 10**9  # sentinel 30 days past max event time
# local aliases into _APP_PARAMS (usage sites read naturally; the table
# above is the single point of edit)
_OI_BACK = _APP_PARAMS["oi_back"]
_ACT_FWD = _APP_PARAMS["act_fwd"]
_CPN_FWD = _APP_PARAMS["cpn_fwd"]
# app4s/k4 LWW commit-order packing: epoch_sec * 2^31 + event_id.
# 2^31 (not 2^20) because the sf1 probe already generates event_ids to
# 999,999 and a regeneration at larger n would silently invert LWW
# ordering under a 2^20 modulus; _app_source ASSERTS ids fit.
# epoch_sec (~1.7e9) * 2^31 ≈ 3.7e18 — well inside int64.
_ORD_SHIFT = 1 << 31
_N_PROVINCES = 25  # nation-table domain; province_id = user_id % 25


def _write_single_file(
    df: DataFrame, base: str, name: str, mtime: float
) -> None:
    """Write ``df`` as ONE parquet file ``base/name`` with a pinned
    mtime (the file source schedules micro-batches in mtime order)."""
    stage = os.path.join(base, "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    dst = os.path.join(base, name)
    shutil.move(os.path.join(stage, part), dst)
    shutil.rmtree(stage, ignore_errors=True)
    os.utime(dst, (mtime, mtime))


def _app_source(spark: SparkSession, sf_dir: str) -> str:
    """Session-cached app-row source: the shared time-sliced events
    plus (a) tail-replay duplicates — the last _REPLAY_NS of slice k
    re-delivered inside slice k+1, at-least-once style — and (b) TWO
    final sentinel slices of far-future rows with non-matching
    negative keys, one row per joined event type each, the second
    30 days past the first. Two slices because each watermark-gated
    stateful level flushes against the PREVIOUS batch's watermark:
    app1s's depth-2 outer-join chain needs the watermark to advance
    twice past all real data before the trailing no-data batch, or the
    second outer join strands its final null-padded rows in state.

    One file per micro-batch; mtimes pinned in slice order, offsets
    derived from the FILE COUNT (a fixed offset silently mis-orders the
    sentinel once the slice count grows past it — the file source
    follows modification time, same discipline as
    streaming_exec._write_time_sliced_source)."""

    def build(base: str) -> None:
        src0 = _sliced_source(spark, sf_dir, _SRC_FILES)
        files = sorted(glob.glob(src0 + "/*.parquet"), key=os.path.getmtime)
        now = time.time()
        n_slices = len(files) + 2  # + the two sentinel slices

        def write_one(df: DataFrame, name: str, mtime: float) -> None:
            _write_single_file(df, base, name, mtime)

        for i, f in enumerate(files):
            cur = spark.read.parquet(f)
            if i > 0:
                prev = spark.read.parquet(files[i - 1])
                pmx = prev.agg(F.max("ts")).first()[0]
                cur = cur.unionByName(
                    prev.where(F.col("ts") >= pmx - _REPLAY_NS)
                )
            write_one(cur, f"batch_{i}.parquet", now - n_slices + i)
        mx, mx_id = (
            spark.read.parquet(src0)
            .agg(F.max("ts"), F.max("event_id"))
            .first()
        )
        # the app4s/k4 LWW ord packs event_id under _ORD_SHIFT — a
        # dataset outgrowing the modulus would silently invert LWW
        # ordering, so fail loud here instead
        assert mx_id < _ORD_SHIFT, (
            f"event_id {mx_id} >= ord-packing modulus {_ORD_SHIFT}"
        )

        def sentinel(k: int, ns_off: int) -> DataFrame:
            base_id = -(4 * (k - 1))  # slice 1: -1..-4; slice 2: -5..-8
            return spark.createDataFrame(
                [
                    (base_id - j - 1, mx + k * ns_off, base_id - j - 1, t,
                     0.0, "{}")
                    for j, t in enumerate(
                        ("purchase", "signup", "click", "view")
                    )
                ],
                "event_id bigint, ts bigint, user_id bigint, "
                "event_type string, value double, props string",
            )

        write_one(sentinel(1, _SENT_NS), "batch_z1_sentinel.parquet",
                  now - 1)
        write_one(sentinel(2, _SENT_NS), "batch_z2_sentinel.parquet", now)

    return _artifact_dir(spark, sf_dir, "appsrc", build)


def _assert_state_operators(records: list[dict], expect: int) -> None:
    """The row's claim is the CHAIN — fail loud if Spark planned fewer
    stateful operators than the topology declares (e.g. an optimizer
    change collapsing a dedup would silently degrade the coverage)."""
    counts = {
        len(r.get("stateOperators", []))
        for r in records
        if r.get("stateOperators")
    }
    if counts != {expect}:
        raise AssertionError(
            f"app chain expected {expect} stateful operators per batch, "
            f"saw {sorted(counts)} — the composed topology is no longer "
            "what this row verifies"
        )


# --- shared chain scaffolding (18 builds; round-11 verdict task 7) --------


def _run_append_chain(spark: SparkSession, base: str, df, n_ops: int) -> None:
    """Run ``df`` as ONE append-mode streaming query into ``base/out``
    (checkpoint at ``base/ckpt``), await completion, and assert the
    planned stateful-operator count from the progress records."""
    q = run_file_stream(
        df, os.path.join(base, "out"), os.path.join(base, "ckpt")
    )
    _assert_state_operators(dump_progress(q, base), n_ops)


def _chain_artifact(
    spark: SparkSession, sf_dir: str, kind: str, n_ops: int, plan
) -> str:
    """Session-cached app-chain artifact: ``plan(ev)`` declares the
    topology over the shared replay+sentinel source's event stream; the
    result runs as one append-mode query at _STATE_PARTS state-store
    partitions. Every parquet-sink chain build is this shape."""
    from real_time_data_warehouse_spark.streaming.pipelines import (
        stream_events,
    )

    def build(base: str) -> None:
        ev = stream_events(spark, _app_source(spark, sf_dir))
        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            _run_append_chain(spark, base, plan(ev), n_ops)

    return _artifact_dir(spark, sf_dir, kind, build)


def _typed_branch(
    ev: DataFrame,
    etype: str,
    idn: str,
    keyn: str,
    tsn: str,
    with_amount: bool = False,
) -> DataFrame:
    """One per-table sub-stream: BaseSQLApp.readOdsDb + the per-table
    filter view, LWW-deduped within its own post-filter watermark (ST1
    — the branch-watermark discipline from the module docstring)."""
    cols = [
        F.col("event_id").alias(idn),
        F.col("user_id").alias(keyn),
        F.col("ts").alias(tsn),
    ]
    if with_amount:
        cols.append(F.col("value").alias("amount"))
    return (
        ev.where(F.col("event_type") == etype)
        .select(*cols)
        .withWatermark(tsn, _DELAY)
        .dropDuplicatesWithinWatermark([idn])
    )


def _win_meta(w: str = "w") -> list:
    """The reference's window-meta stt/edt columns (W7)."""
    return [
        F.date_format(f"{w}.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format(f"{w}.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
    ]


def _drop_sentinel_windows(
    spark: SparkSession,
    sf_dir: str,
    back: DataFrame,
    col: str = "stt",
    fmt: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """Exclude the far-future sentinel rows from a sink read-back: real
    windows/dates all start at or before the real max event time (the
    sentinel's own window is the only non-real row)."""
    mx = Tables(spark, sf_dir).events.agg(
        F.date_format(F.max("ts"), fmt).alias("mx")
    )
    return (
        back.crossJoin(F.broadcast(mx))
        .where(F.col(col) <= F.col("mx"))
        .drop("mx")
    )


# --------------------------------------------------------------------------
# app1s: DwdTradeOrderDetail — ST1 + J1 + J2 as ONE streaming query
# --------------------------------------------------------------------------


def _app1s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        # per-table filter views (DwdTradeOrderDetail.java:30-82), each
        # branch LWW-deduped (ST1 — the DWS consumer's retract-dedup
        # pulled up to the producer, same observable stream)
        od = _typed_branch(
            ev, "purchase", "od_id", "order_key", "od_ts", True
        )
        oi = _typed_branch(ev, "signup", "oi_id", "oi_key", "oi_ts")
        act = _typed_branch(ev, "click", "act_id", "act_key", "act_ts")
        cpn = _typed_branch(ev, "view", "cpn_id", "cpn_key", "cpn_ts")
        # J1: od ⋈ oi (DwdTradeOrderDetail.java:105 "join order_info");
        # the 10 s idle-state TTL (:26) becomes the explicit event-time
        # range bounding the symmetric-hash-join state. oi_ts is
        # projected AWAY after the join — chained stateful operators
        # require exactly one event-time column flowing downstream.
        inner = od.join(
            oi,
            (F.col("order_key") == F.col("oi_key"))
            & (F.col("oi_ts") >= F.col("od_ts") - F.expr(_OI_BACK))
            & (F.col("oi_ts") <= F.col("od_ts")),
        ).select("od_id", "order_key", "amount", "od_ts", "oi_id")
        # J2: ⟕ order_detail_activity (:106) — null-padded rows emit
        # when the watermark passes od_ts + _ACT_FWD; act_ts is
        # projected away (one event-time column downstream)
        left = inner.join(
            act,
            (F.col("order_key") == F.col("act_key"))
            & (F.col("act_ts") >= F.col("od_ts"))
            & (F.col("act_ts") <= F.col("od_ts") + F.expr(_ACT_FWD)),
            "left",
        ).select(
            "od_id", "order_key", "amount", "od_ts", "oi_id", "act_id"
        )
        # J2 again: ⟕ order_detail_coupon (:107-108) — the reference's
        # FOURTH stream, a second chained outer join whose final
        # null-pads flush one batch later than the first's (hence the
        # second sentinel slice in _app_source)
        return left.join(
            cpn,
            (F.col("order_key") == F.col("cpn_key"))
            & (F.col("cpn_ts") >= F.col("od_ts"))
            & (F.col("cpn_ts") <= F.col("od_ts") + F.expr(_CPN_FWD)),
            "left",
        ).select(
            "od_id", "order_key", "amount", "od_ts", "oi_id", "act_id",
            "cpn_id",
        )

    # 4 dedups + 3 symmetric hash joins = 7 stateful operators
    return _chain_artifact(spark, sf_dir, "app1s", 7, plan)


@register(
    "app1s_order_detail_stream_chain",
    survey="J1,J2,ST1,S1,W5",
    doc="The reference's DwdTradeOrderDetail app END-TO-END as one "
        "Structured Streaming query (DwdTradeOrderDetail.java:84-135, "
        "all FOUR streams): one topic_db stream filtered into "
        "order_detail/order_info/activity/coupon branches, each "
        "LWW-deduped within the watermark (ST1; the source re-delivers "
        "the last hour of every slice, so dedup state is load-bearing), "
        "then order_detail ⋈ order_info (J1, event-time-range-bounded "
        "symmetric hash join = the 10 s idle-state TTL) ⟕ activity "
        "(J2, null-padded on watermark, :106) ⟕ coupon (the second J2, "
        ":107-108) — SEVEN stateful operators in ONE query plan, "
        "asserted from the progress records. Two far-future sentinel "
        "slices flush the chained state at end-of-input (each outer "
        "level lags one batch), so the sink equals the UNRESTRICTED "
        "batch oracle — no closed-region horizon. Read-back aggregates "
        "per order_key: row/match counts, id checksums, exact DECIMAL "
        "amount sum.",
    oracle=f"""
        SELECT od.user_id AS order_key,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(act.event_id) AS BIGINT) AS n_clicks,
               CAST(COUNT(cpn.event_id) AS BIGINT) AS n_coupons,
               CAST(SUM(od.event_id) AS BIGINT) AS od_id_sum,
               CAST(SUM(oi.event_id) AS BIGINT) AS oi_id_sum,
               CAST(SUM(cpn.event_id) AS BIGINT) AS cpn_id_sum,
               {oracle_dec_sum('od.value', 'amount_sum')}
        FROM events od
        JOIN events oi ON od.user_id = oi.user_id
         AND oi.event_type = 'signup'
         AND oi.ts BETWEEN od.ts - {_OI_BACK} AND od.ts
        LEFT JOIN events act ON od.user_id = act.user_id
         AND act.event_type = 'click'
         AND act.ts BETWEEN od.ts AND od.ts + {_ACT_FWD}
        LEFT JOIN events cpn ON od.user_id = cpn.user_id
         AND cpn.event_type = 'view'
         AND cpn.ts BETWEEN od.ts AND od.ts + {_CPN_FWD}
        WHERE od.event_type = 'purchase'
        GROUP BY od.user_id
    """,
)
def app1s_order_detail_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app1s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return (
        back.groupBy("order_key")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("act_id").cast("bigint").alias("n_clicks"),
            F.count("cpn_id").cast("bigint").alias("n_coupons"),
            F.sum("od_id").cast("bigint").alias("od_id_sum"),
            F.sum("oi_id").cast("bigint").alias("oi_id_sum"),
            F.sum("cpn_id").cast("bigint").alias("cpn_id_sum"),
            dec_sum("amount", "amount_sum"),
        )
    )


# --------------------------------------------------------------------------
# app2s: DwsTradeProvinceOrderWindow — ST1 + A1/A2 + J5 as ONE query
# --------------------------------------------------------------------------


def _app2s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        # ST1: dedup by the detail's unique key (DwsTradeProvince
        # OrderWindow.java:74-99 — the retract-dedup ValueState with a
        # 10 s TTL, re-expressed as dropDuplicatesWithinWatermark: the
        # first arrival is emitted once, redelivered copies within the
        # watermark are suppressed by state)
        ded = (
            ev.where(F.col("event_type") == "purchase")
            .withWatermark("ts", _DELAY)
            .dropDuplicatesWithinWatermark(["event_id"])
            .withColumn(
                "province_id",
                F.pmod(F.col("user_id"), F.lit(_N_PROVINCES)).cast(
                    "bigint"
                ),
            )
        )
        # A1+A2: per-province tumbling reduce with EXACT distinct-order
        # counting (:139-168 — the bean's orderIdSet union is exactly
        # collect_set; user_id plays the order-id role here)
        agg = ded.groupBy(
            F.window("ts", "1 day").alias("w"), "province_id"
        ).agg(
            F.count("*").cast("bigint").alias("n_details"),
            F.size(F.collect_set("user_id"))
            .cast("bigint")
            .alias("order_count"),
            dec_sum("value", "order_amount"),
        )
        # J5/J6: province-name enrichment (:171-191, DimAsyncFunction
        # over HBase+Redis) — per-batch broadcast hash join against the
        # 25-row dim; stateless, emits with the window row
        nation = Tables(spark, sf_dir).nation.select(
            F.col("n_nationkey").alias("province_id"),
            F.col("n_name").alias("province_name"),
        )
        return agg.join(F.broadcast(nation), "province_id", "left").select(
            *_win_meta(),
            "province_id",
            "province_name",
            "n_details",
            "order_count",
            "order_amount",
        )

    # dedup + windowed agg = 2 stateful operators
    return _chain_artifact(spark, sf_dir, "app2s", 2, plan)


@register(
    "app2s_province_order_stream_chain",
    survey="ST1,A1,A2,W1,W7,J5,S7",
    doc="The reference's DwsTradeProvinceOrderWindow app END-TO-END as "
        "one Structured Streaming query (DwsTradeProvinceOrderWindow"
        ".java:74-191): ST1 LWW dedup by detail id (the source "
        "re-delivers slice tails, so the dedup is load-bearing) → "
        "per-province tumbling event-time window with the window-meta "
        "stt/edt columns (W1/W7), exact DECIMAL amount sum (A1) and "
        "EXACT distinct-order count via collect_set — the reference's "
        "orderIdSet union (A2) — → broadcast province-dim enrichment "
        "(J5). Two stateful operators chained into a stateless "
        "stream-static join, asserted from the progress records; the "
        "sentinel slice flushes every window at end-of-input so the "
        "read-back (restricted only to real, non-sentinel windows) "
        "equals the unrestricted batch oracle.",
    oracle=f"""
        SELECT strftime(time_bucket(INTERVAL 1 DAY, e.ts),
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL 1 DAY, e.ts)
                        + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
               e.user_id % {_N_PROVINCES} AS province_id,
               n.n_name AS province_name,
               CAST(COUNT(*) AS BIGINT) AS n_details,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS order_count,
               {oracle_dec_sum('e.value', 'order_amount')}
        FROM events e
        LEFT JOIN nation n ON n.n_nationkey = e.user_id % {_N_PROVINCES}
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2, 3, 4
    """,
)
def app2s_province_order_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app2s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return _drop_sentinel_windows(spark, sf_dir, back)


# --------------------------------------------------------------------------
# app3s: DwsTradeSkuOrderWindow — P1/P11 + ST1 + A1/W1 + J6 as ONE query
# --------------------------------------------------------------------------

_APP3_DROP_MOD = _APP_PARAMS["app3_drop_mod"]


def _app3s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        # P1/P11: per-row JSON parse + predicate filter — the
        # reference's tombstone/dirty-row gate ahead of the dedup
        # (DwsTradeSkuOrderWindow.java:133-142 drops null-'old' CDC
        # deletes after parsing the envelope). Native get_json_object,
        # no Python in the hot path. The null-keep is gated to SENTINEL
        # rows only (negative ids): a real row with missing/invalid
        # props must fail the predicate exactly like the oracle's
        # NULL-falsy `k % 10 != 0` — symmetric semantics, not a
        # dataset-invariant coincidence.
        kept = (
            ev.where(F.col("event_type") == "purchase")
            .withColumn(
                "k", F.get_json_object("props", "$.k").cast("int")
            )
            .where(
                (F.col("event_id") < 0)  # sentinel rows carry no k
                | (F.pmod(F.col("k"), F.lit(_APP3_DROP_MOD)) != 0)
            )
        )
        # ST1: retract-dedup by detail id (:190-223) — same LWW
        # semantics as app2s; the replayed slice tails are what it eats
        ded = kept.withWatermark("ts", _DELAY).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        # A1/W1/W7: per-sku tumbling reduce with window meta (:271-302);
        # user_id plays the sku_id role
        agg = ded.groupBy(F.window("ts", "1 day").alias("w"), "user_id").agg(
            F.count("*").cast("bigint").alias("order_count"),
            dec_sum("value", "order_amount"),
        )
        # J6: the 6-stage async dim chain (:480-619) as CHAINED
        # per-batch broadcast hash joins — sku→spu→trademark→category
        # becomes user→customer→nation→region; each hop is a
        # |dim|-bounded broadcast, the window rows never shuffle again
        t = Tables(spark, sf_dir)
        cust = t.customer.select(
            F.col("c_custkey").alias("user_id"), "c_nationkey"
        )
        nation = t.nation.select("n_nationkey", "n_name", "n_regionkey")
        region = t.region.select("r_regionkey", "r_name")
        return (
            agg.join(F.broadcast(cust), "user_id", "left")
            .join(
                F.broadcast(nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
                "left",
            )
            .join(
                F.broadcast(region),
                F.col("n_regionkey") == F.col("r_regionkey"),
                "left",
            )
            .select(
                *_win_meta(),
                "user_id",
                F.coalesce("n_name", F.lit("unknown")).alias(
                    "nation_name"
                ),
                F.coalesce("r_name", F.lit("unknown")).alias(
                    "region_name"
                ),
                "order_count",
                "order_amount",
            )
        )

    # dedup + windowed agg = 2 stateful operators; the dim chain is
    # stateless per-batch broadcasts
    return _chain_artifact(spark, sf_dir, "app3s", 2, plan)


@register(
    "app3s_sku_order_stream_chain",
    survey="P1,P11,ST1,A1,W1,W7,J6",
    doc="The reference's DwsTradeSkuOrderWindow app END-TO-END as one "
        "Structured Streaming query (DwsTradeSkuOrderWindow.java:"
        "133-619): per-row JSON envelope parse + tombstone-style "
        "predicate filter (P1/P11, native get_json_object) → ST1 LWW "
        "dedup by detail id (the replayed slice tails are suppressed "
        "by state) → per-sku tumbling event-time reduce with window "
        "meta stt/edt (A1/W1/W7, exact DECIMAL sums) → the 6-stage "
        "async dim chain re-expressed as CHAINED per-batch broadcast "
        "hash joins, user→customer→nation→region (J6) — two stateful "
        "operators plus a stateless broadcast chain, asserted from the "
        "progress records. Sentinel flush ⇒ the sink equals the "
        "unrestricted composed batch oracle (the sentinels carry no "
        "JSON key, so the filter keeps null-k rows ONLY for negative "
        "sentinel ids — a real null/invalid-props row is dropped, "
        "matching the oracle's NULL-falsy predicate — and the "
        "read-back excludes the far-future sentinel window rows, "
        "app2s-style).",
    oracle=f"""
        SELECT strftime(time_bucket(INTERVAL 1 DAY, e.ts),
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL 1 DAY, e.ts)
                        + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
               e.user_id,
               COALESCE(n.n_name, 'unknown') AS nation_name,
               COALESCE(r.r_name, 'unknown') AS region_name,
               CAST(COUNT(*) AS BIGINT) AS order_count,
               {oracle_dec_sum('e.value', 'order_amount')}
        FROM events e
        LEFT JOIN customer c ON c.c_custkey = e.user_id
        LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
        LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE e.event_type = 'purchase'
          AND CAST(json_extract_string(e.props, 'k') AS INT)
              % {_APP3_DROP_MOD} != 0
        GROUP BY 1, 2, 3, 4, 5
    """,
)
def app3s_sku_order_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app3s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return _drop_sentinel_windows(spark, sf_dir, back)


# --------------------------------------------------------------------------
# app4s: DimApp — P1 + J7/ST7 + P7 + S8 as ONE streaming query (DIM layer)
# --------------------------------------------------------------------------

# TableProcessDim analog (TableProcessDim.java:14-32): source event type →
# (sink dim table, kept columns). Unmapped types (purchase/error) are
# DROPPED by the config join — the reference's "not a dim table" filter.
_APP4_CONFIG = (
    ("view", "dim_page", ("value", "k")),
    ("click", "dim_action", ("value",)),
    ("signup", "dim_user", ("k",)),
)
_APP4_DELETE_MOD = _APP_PARAMS["app4_delete_mod"]


def _app4s_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.pipelines import (
        EVENTS_RAW_SCHEMA,
    )
    from real_time_data_warehouse_spark.streaming.sinks import upsert_dim

    def build(base: str) -> None:
        src = _app_source(spark, sf_dir)
        dim_base = os.path.join(base, "dim")
        ckpt = os.path.join(base, "ckpt")
        config = spark.createDataFrame(
            [(s, t, ",".join(c)) for s, t, c in _APP4_CONFIG],
            "event_type string, sink_table string, sink_columns string",
        )

        def body(b: DataFrame, bid: int) -> None:
            # P1: envelope parse + op derivation (Maxwell type analog);
            # sentinels carry no JSON key and negative ids — dropped
            cdc = (
                b.where(F.col("event_id") >= 0)
                .withColumn(
                    "k", F.get_json_object("props", "$.k").cast("int")
                )
                .withColumn(
                    "op",
                    F.when(
                        F.pmod(F.col("k"), F.lit(_APP4_DELETE_MOD)) == 0,
                        F.lit("delete"),
                    ).otherwise(F.lit("upsert")),
                )
                .withColumn(
                    # commit-order key: epoch-seconds · _ORD_SHIFT + id
                    # — LWW-comparable across batches, overflow-safe
                    # (id headroom asserted in _app_source). Integer
                    # `div` on the wire-ns ts: a double division would
                    # lose precision above 2^53 and could flip a
                    # second boundary
                    "ord",
                    (
                        F.expr("ts div 1000000000") * F.lit(_ORD_SHIFT)
                        + F.col("event_id")
                    ).cast("bigint"),
                )
            )
            # J7/ST7: broadcast config join — routing AND the implicit
            # "unmapped table → drop" filter in one hash probe
            routed = cdc.join(F.broadcast(config), "event_type")
            # one pass over the micro-batch: the three per-table writes
            # below otherwise each re-read and re-parse the batch
            routed = routed.localCheckpoint(eager=True)
            for _etype, sink, cols in _APP4_CONFIG:
                # P7: per-table column pruning from config
                sub = routed.where(F.col("sink_table") == sink).select(
                    "user_id", "ord", "op", *cols
                )
                # S8: HBase-style keyed upsert/delete (Delta MERGE in
                # production; tested parquet RMW fallback here)
                upsert_dim(
                    spark,
                    sub,
                    os.path.join(dim_base, sink),
                    ["user_id"],
                    order_col="ord",
                    type_col="op",
                )

        raw = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # crash before epoch 2's writes, restart from the checkpoint:
        # the replayed epoch re-applies the same upserts/deletes — a
        # no-op under LWW (same rows, same ord), which IS the
        # exactly-once argument for an idempotent merge sink. No debris
        # is planted: debris modeling belongs to append sinks (x1s/
        # d7x); a merge sink's mid-WRITE atomicity comes from the ACID
        # branch (Delta MERGE) in production, not from replay.
        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            _run_crash_restart(raw, body, ckpt, lambda: None)

    return _artifact_dir(spark, sf_dir, "app4s", build)


@register(
    "app4s_dim_app_stream_chain",
    survey="S8,P1,P7,J7,ST7,X2,S2",
    doc="The reference's DIM-layer app (DimApp.java — the realtime-dim "
        "module) END-TO-END as one streaming query WITH a mid-stream "
        "crash + checkpoint restart: readStream over the CDC-style "
        "source → per-batch envelope parse + op derivation (P1, Maxwell "
        "type analog: k%17==0 → delete) → broadcast TableProcessDim "
        "config join that routes each row to its dim table and drops "
        "unmapped types (J7/ST7, TableProcessFunction.java:37-82) → "
        "per-table column pruning from config (P7, sinkColumns) → "
        "keyed LWW upsert/delete into the per-table dim store (S8, "
        "HBaseSinkFunction.java:36-61 — Delta MERGE in production, the "
        "tested parquet read-modify-write fallback here). A one-shot "
        "fault crashes epoch 2 before its writes; the restart replays "
        "it, and replay ≡ no-op under LWW (same rows, same commit ord) "
        "— the exactly-once argument for idempotent merge sinks. The "
        "source's replayed slice tails land as genuine duplicate "
        "upserts the LWW fold must absorb. Read-back: the FINAL state "
        "of all three dim tables vs the one-pass LWW oracle (each "
        "key's max-ord record decides; absent if delete; columns as "
        "pruned per config).",
    oracle=f"""
        WITH cdc AS (
            SELECT e.user_id, e.event_type,
                   CAST(floor(epoch(e.ts)) AS BIGINT) * {_ORD_SHIFT}
                       + e.event_id AS ord,
                   CASE WHEN CAST(json_extract_string(e.props, 'k')
                             AS INT) % {_APP4_DELETE_MOD} = 0
                        THEN 'delete' ELSE 'upsert' END AS op,
                   e.value,
                   CAST(json_extract_string(e.props, 'k') AS INT) AS k
            FROM events e
            WHERE e.event_type IN ('view', 'click', 'signup')
        ),
        last AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY event_type, user_id
                       ORDER BY ord DESC) AS rn
            FROM cdc
        )
        SELECT CASE event_type WHEN 'view' THEN 'dim_page'
                               WHEN 'click' THEN 'dim_action'
                               ELSE 'dim_user' END AS sink_table,
               user_id,
               ord,
               CASE WHEN event_type IN ('view', 'click')
                    THEN value END AS value,
               CASE WHEN event_type IN ('view', 'signup')
                    THEN k END AS k
        FROM last
        WHERE rn = 1 AND op <> 'delete'
    """,
)
def app4s_dim_app_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app4s_build(spark, sf_dir)
    parts = []
    for _etype, sink, cols in _APP4_CONFIG:
        d = spark.read.parquet(os.path.join(base, "dim", sink))
        parts.append(
            d.select(
                F.lit(sink).alias("sink_table"),
                "user_id",
                "ord",
                (F.col("value") if "value" in cols else F.lit(None))
                .cast("double")
                .alias("value"),
                (F.col("k") if "k" in cols else F.lit(None))
                .cast("int")
                .alias("k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# app5s: DwdBaseLog — P2 dirty side-output + ST3 keyed visitor repair +
# X1/X1b 5-way split with child explode, as ONE streaming query fanning
# out to 6 sides of one side-partitioned sink, with a mid-stream crash +
# checkpoint restart
# --------------------------------------------------------------------------

# Generator rule for the injected dirty rows: every 53rd event's props
# is mangled into invalid JSON. The ORACLE uses this rule (it states
# intent); the STREAM detects actual JSON invalidity (it proves
# detection) — _app5_source asserts the two coincide on the dataset,
# so a generator drift fails the build instead of silently breaking
# parity.
_APP5_DIRTY_MOD = _APP_PARAMS["app5_dirty_mod"]
# data columns of the app5s sink (batch_id and side are its partitions)
_APP5_SINK_SCHEMA = "event_id bigint, user_id bigint, is_new int"


def _app5_source(spark: SparkSession, sf_dir: str) -> str:
    """app5-specific sliced source: the shared time-sliced events with
    every _APP5_DIRTY_MOD-th row's props mangled into invalid JSON (the
    dirty-data the reference's ETL side-outputs, DwdBaseLog.java:88-117).
    No replay duplicates and no sentinel: DwdBaseLog has no dedup and no
    watermark-gated operator — its keyed state (ST3) emits per batch.
    Sliced exactly like the shared source, in the same single write."""

    def mangle(wire: DataFrame) -> DataFrame:
        return wire.withColumn(
            "props",
            F.when(
                F.col("event_id") % _APP5_DIRTY_MOD == 0,
                F.concat(F.lit("{corrupt::"), F.col("props")),
            ).otherwise(F.col("props")),
        )

    def build(base: str) -> None:
        _write_time_sliced_source(spark, sf_dir, base, _SRC_FILES, mangle)
        # oracle-rule ≡ stream-rule guard: every non-mangled row must be
        # VALID json and every mangled row invalid, or the id-rule
        # oracle and the validity-detecting stream diverge
        chk = spark.read.parquet(base).select(
            (F.col("event_id") % _APP5_DIRTY_MOD == 0).alias("mangled"),
            F.get_json_object("props", "$").isNull().alias("invalid"),
        )
        bad = chk.where(F.col("mangled") != F.col("invalid")).count()
        assert bad == 0, (
            f"{bad} rows where JSON validity disagrees with the "
            "event_id % mod dirty rule — oracle and stream would diverge"
        )

    return _artifact_dir(spark, sf_dir, "app5src", build)


def _app5_schemas():
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("props", StringType()),
            StructField("dirty", IntegerType()),
            StructField("is_new", IntegerType()),
        ]
    )
    state = StructType([StructField("first_visit_date", StringType())])
    return out, state


def _app5_fix_fn(key, pdf_iter, state):
    """ST3 visitor-flag repair (DwdBaseLog.java:121-188) with the dirty
    rows flowing THROUGH as state-neutral passthrough — the one-query
    multi-sink form of Flink's pre-keyBy side output: dirty rows never
    touch the per-user first_visit_date state and carry is_new=NULL.
    Clean rows: is_new=1 only on the user's first-ever visit date."""
    import pandas as pd

    (user_id,) = key
    first = state.get[0] if state.exists else None
    cols = ["event_id", "user_id", "event_type", "props", "dirty", "is_new"]
    outs = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values("ts")
        dates = pdf["ts"].dt.strftime("%Y-%m-%d")
        is_new: list[int | None] = []
        for d, dirty in zip(dates, pdf["dirty"]):
            if dirty:
                is_new.append(None)
                continue
            if first is None:
                first = d
            is_new.append(1 if d == first else 0)
        out = pdf[["event_id", "user_id", "event_type", "props", "dirty"]]
        out = out.assign(
            is_new=pd.Series(is_new, index=pdf.index, dtype="object")
        )
        outs.append(out[cols])
    if first is not None:
        state.update((first,))
    yield (
        pd.concat(outs)
        if outs
        else pd.DataFrame(columns=cols)
    )


def _app5s_build(spark: SparkSession, sf_dir: str) -> str:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from real_time_data_warehouse_spark.streaming.pipelines import (
        log_side,
        stream_events,
    )

    out_schema, state_schema = _app5_schemas()

    def build(base: str) -> None:
        src = _app5_source(spark, sf_dir)
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")

        def body(b: DataFrame, bid: int) -> None:
            # P2 + X1: one CASE routes every row (dirty first, then the
            # X1 5-way split); event types no side carries drop out
            side = F.when(F.col("dirty") == 1, "dirty").otherwise(log_side())
            # X1b child arrays: the reference explodes displays[]/
            # actions[] out of page logs (:230-270); the analog derives
            # the child count from props.k — JSON parsed natively, once
            k = F.get_json_object("props", "$.k").try_cast("int")
            last = (
                F.when(F.col("side") == "display", F.pmod(k, F.lit(3)))
                .when(F.col("side") == "action", F.pmod(k, F.lit(2)))
                .otherwise(F.lit(0))
            )
            routed = (
                b.withColumn("side", side)
                .where(F.col("side").isNotNull())
                .withColumn("pos", F.explode(F.sequence(F.lit(0), last)))
            )
            # ONE write per epoch: the keyed-state plan runs once, not
            # once per side
            write_snapshot(
                routed.select("event_id", "user_id", "is_new", "side"),
                out,
                bid,
                partition_by="side",
            )

        flagged = stream_events(spark, src).withColumn(
            # P2 dirty gate: actual JSON validity, not the generator's id
            # rule (get_json_object('$') is NULL iff the document fails
            # to parse)
            "dirty",
            F.get_json_object("props", "$").isNull().cast("int"),
        ).select("event_id", "user_id", "ts", "event_type", "props", "dirty")
        fixed = flagged.groupBy("user_id").applyInPandasWithState(
            _app5_fix_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def plant_debris() -> None:
            # partial file a mid-write crash leaves in the crashed
            # epoch's side=action dir — the retry must REPLACE it
            ev = Tables(spark, sf_dir).events
            debris = ev.where(F.col("event_type") == "click").limit(9).select(
                "event_id",
                "user_id",
                F.lit(9).cast("int").alias("is_new"),
                F.lit("action").alias("side"),
            )
            write_snapshot(debris, out, 2, partition_by="side")

        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            q2 = _run_crash_restart(fixed, body, ckpt, plant_debris)
            # exactly ONE keyed-state operator (the ST3 repair) in the
            # replayed epochs' plans
            _assert_state_operators(dump_progress(q2, base), 1)

    return _artifact_dir(spark, sf_dir, "app5s", build)


@register(
    "app5s_base_log_stream_chain",
    survey="P2,ST3,U2,X1,X1b,S4,S1",
    doc="The reference's DwdBaseLog app END-TO-END as one Structured "
        "Streaming query WITH a mid-stream crash + checkpoint restart "
        "(DwdBaseLog.java:88-295): per-row JSON-validity ETL whose "
        "dirty rows side-output to a 6th sink (P2, :88-117 — injected "
        "by mangling every 53rd row's props; the stream detects actual "
        "parse failure, the oracle states the generator rule, and the "
        "source build asserts they coincide) → ST3 keyed visitor-flag "
        "repair via applyInPandasWithState (:121-188; dirty rows pass "
        "through state-neutral with is_new=NULL — the one-query form "
        "of Flink's pre-keyBy side output) → the 5-way split with "
        "display/action child-record EXPLOSION (X1/X1b, :192-295; "
        "k%3+1 display children, k%2+1 action children from props) "
        "fanning out to 6 sides of ONE side-partitioned per-epoch-"
        "overwrite parquet write in foreachBatch (one job per epoch). "
        "A one-shot fault crashes epoch 2 after two committed epochs, "
        "debris is planted in the crashed epoch's side=action dir, and "
        "the restart replays from the checkpointed "
        "keyed state — per-side aggregates (rows, id checksum, "
        "distinct users, SUM(is_new) — the repaired flags) must equal "
        "the composed batch oracle, certifying exactly-once across "
        "the 6-way fan-out AND cross-batch keyed-state replay.",
    oracle=f"""
        WITH base AS (
            SELECT event_id, user_id, event_type, ts,
                   (event_id % {_APP5_DIRTY_MOD} = 0) AS dirty,
                   TRY_CAST(json_extract_string(props, 'k') AS INT) AS k,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS d
            FROM events
        ),
        fixed AS (
            SELECT b.*,
                   CASE WHEN dirty THEN NULL
                        WHEN d = MIN(CASE WHEN NOT dirty THEN d END)
                                 OVER (PARTITION BY user_id)
                        THEN 1 ELSE 0 END AS is_new
            FROM base b
        ),
        sides AS (
            SELECT 'dirty' AS side, event_id, user_id, is_new
              FROM fixed WHERE dirty
            UNION ALL
            SELECT 'err', event_id, user_id, is_new FROM fixed
              WHERE NOT dirty AND event_type = 'error'
            UNION ALL
            SELECT 'start', event_id, user_id, is_new FROM fixed
              WHERE NOT dirty AND event_type = 'signup'
            UNION ALL
            SELECT 'page', event_id, user_id, is_new FROM fixed
              WHERE NOT dirty AND event_type = 'purchase'
            UNION ALL
            SELECT 'display', event_id, user_id, is_new
              FROM fixed, LATERAL (SELECT unnest(range(k % 3 + 1))) g
              WHERE NOT dirty AND event_type = 'view'
            UNION ALL
            SELECT 'action', event_id, user_id, is_new
              FROM fixed, LATERAL (SELECT unnest(range(k % 2 + 1))) g
              WHERE NOT dirty AND event_type = 'click'
        )
        SELECT side,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uu,
               CAST(SUM(is_new) AS BIGINT) AS new_sum
        FROM sides GROUP BY side
    """,
)
def app5s_base_log_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app5s_build(spark, sf_dir)
    back = read_log(spark, os.path.join(base, "out"), _APP5_SINK_SCHEMA)
    return back.groupBy("side").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").cast("bigint").alias("uu"),
        F.sum("is_new").cast("bigint").alias("new_sum"),
    )


# --------------------------------------------------------------------------
# app6s: DwsTrafficVcChArIsNewPageViewWindow — ST4 first-per-day UV +
# ST1 replay dedup + A3 4-dim tumbling reduce as ONE streaming query
# --------------------------------------------------------------------------

_APP6_SV_MOD = _APP_PARAMS["app6_sv_mod"]


def _app6s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(raw: DataFrame) -> DataFrame:
        # the 4 stat dims (vc/ch/ar/is_new, :77-92) derived from the
        # key so every event of a user carries identical dims — the
        # uv row's attribution is then arrival-order-independent
        ev = (
            raw.withColumn("day_ts", F.date_trunc("day", "ts"))
            .withColumn("vc", F.pmod("user_id", F.lit(3)).cast("int"))
            .withColumn("ch", F.pmod("user_id", F.lit(7)).cast("int"))
            .withColumn("ar", F.pmod("user_id", F.lit(5)).cast("int"))
            .withColumn("isn", F.pmod("user_id", F.lit(2)).cast("int"))
            .withWatermark("day_ts", "1 day")
        )
        # ST4 branch: first-event-per-(user, day) → uvCt=1, the
        # reference's lastVisitDateState (:58-106) as watermark-evicted
        # keyed dedup state (st16's exact form — the event-time column
        # is IN the dedup key, so state is dropped once the watermark
        # passes the day). Replayed slice-tail duplicates are exact
        # copies, so key-level emit-once subsumes their dedup here.
        uv = ev.dropDuplicates(["user_id", "day_ts"]).select(
            "day_ts", "vc", "ch", "ar", "isn",
            F.lit(1).alias("uv"), F.lit(0).alias("pv"),
            F.lit(0).alias("sv"), F.lit(0.0).alias("value"),
        )
        # pv/sv branch: every event once — the source's at-least-once
        # replay is absorbed by ST1 dedup on event_id (the reference
        # reads exactly-once Kafka; the file twin must earn it). svCt
        # is STATELESS in the reference too (last_page_id empty,
        # :86-88) — the analog reads the session-start flag off the
        # event's props.
        k = F.get_json_object("props", "$.k").try_cast("int")
        pv = (
            ev.dropDuplicatesWithinWatermark(["event_id"])
            .select(
                "day_ts", "vc", "ch", "ar", "isn",
                F.lit(0).alias("uv"), F.lit(1).alias("pv"),
                F.when(F.pmod(k, F.lit(_APP6_SV_MOD)) == 0, 1)
                .otherwise(0)
                .alias("sv"),
                "value",
            )
        )
        # A3/W1/W7: the 4-dim tumbling reduce over the UNION of both
        # keyed-state branches (:115-172) — two keyed states feeding
        # one window in a single plan; sums split per branch (uv rows
        # carry value=0.0, exact under the DECIMAL sum)
        agg = (
            uv.unionByName(pv)
            .groupBy(
                F.window("day_ts", "1 day").alias("w"),
                "vc", "ch", "ar", "isn",
            )
            .agg(
                F.sum("pv").cast("bigint").alias("pv_ct"),
                F.sum("uv").cast("bigint").alias("uv_ct"),
                F.sum("sv").cast("bigint").alias("sv_ct"),
                dec_sum("value", "dur_sum"),
            )
            .select(
                *_win_meta(),
                "vc", "ch", "ar", "isn",
                "pv_ct", "uv_ct", "sv_ct", "dur_sum",
            )
        )
        return agg

    # 2 dedup states + 1 windowed agg = 3 stateful operators
    return _chain_artifact(spark, sf_dir, "app6s", 3, plan)


@register(
    "app6s_traffic_page_view_stream_chain",
    survey="ST4,ST6,ST1,A3,A1,W1,W7,S7",
    doc="The reference's DwsTrafficVcChArIsNewPageViewWindow app "
        "END-TO-END as one Structured Streaming query "
        "(DwsTrafficVcChArIsNewPageViewWindow.java:58-172): ST4 "
        "first-event-per-day UV via watermark-evicted keyed dedup "
        "state (the lastVisitDateState, :58-106) UNIONED with the "
        "every-event pv/sv branch — itself ST1-deduped on event_id "
        "because the source re-delivers slice tails — then the 4-dim "
        "(vc/ch/ar/is_new) tumbling event-time reduce with window "
        "meta stt/edt (A3/W1/W7, :115-172) summing pvCt/uvCt/svCt and "
        "the exact DECIMAL durSum: TWO keyed dedup states and the "
        "window state in ONE query plan, asserted from the progress "
        "records. svCt is stateless in the reference too "
        "(last_page_id empty, :86-88) — the analog flags "
        "props.k % 7 == 0 session starts (ST6's session-count "
        "semantics live in the driver-checked st6/st13 rows). "
        "Sentinel flush ⇒ the sink equals the unrestricted composed "
        "batch oracle; the read-back excludes the far-future sentinel "
        "windows, app2s-style.",
    oracle=f"""
        WITH ev AS (
            SELECT user_id % 3 AS vc, user_id % 7 AS ch,
                   user_id % 5 AS ar, user_id % 2 AS isn,
                   date_trunc('day', ts) AS d, value,
                   CASE WHEN TRY_CAST(json_extract_string(props, 'k')
                                      AS INT) % {_APP6_SV_MOD} = 0
                        THEN 1 ELSE 0 END AS sv,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts, event_id) AS rn
            FROM events
        )
        SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(d + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
               CAST(vc AS INT) AS vc, CAST(ch AS INT) AS ch,
               CAST(ar AS INT) AS ar, CAST(isn AS INT) AS isn,
               CAST(COUNT(*) AS BIGINT) AS pv_ct,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS uv_ct,
               CAST(SUM(sv) AS BIGINT) AS sv_ct,
               {oracle_dec_sum('value', 'dur_sum')}
        FROM ev GROUP BY d, vc, ch, ar, isn
    """,
)
def app6s_traffic_page_view_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app6s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return _drop_sentinel_windows(spark, sf_dir, back)


# --------------------------------------------------------------------------
# app8s: DwsTrafficSourceKeywordPageViewWindow — P10 search filter + U1
# tokenizer explode + ST1 dedup + A6/W3 windowed keyword count
# --------------------------------------------------------------------------

_APP8_VOCAB = (
    "data", "warehouse", "realtime", "stream",
    "query", "search", "window", "join",
)
_APP8_SEARCH_MOD = _APP_PARAMS["app8_search_mod"]


def _app8s_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.functions.text import tokenize

    def plan(ev: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").try_cast("int")
        # P10: the search-page filter (DwsTrafficSourceKeywordPageView
        # Window.java:66-77 keeps last_page_id='search' pages with a
        # non-null item). Sentinels pass on negative ids — they must
        # reach the watermark to advance it; their null-k phrase
        # tokenizes to an empty array AFTER the watermark, so explode
        # drops them without stalling anything.
        searches = (
            ev.withColumn("k", k)
            .where(
                (F.col("event_id") < 0)
                | (
                    (F.col("event_type") == "view")
                    & (F.pmod(F.col("k"), F.lit(_APP8_SEARCH_MOD)) == 1)
                )
            )
        )
        # ST1: the source re-delivers slice tails — without this dedup
        # every replayed search double-counts its keywords
        ded = searches.withWatermark(
            "ts", _DELAY
        ).dropDuplicatesWithinWatermark(["event_id"])
        # U1: the tokenizer UDTF (KeywordUtil.java:16-41 splitKeyWord →
        # one row per keyword). The search phrase is derived
        # deterministically from props.k (the corpus carries no text
        # column — a6b's fixture discipline), then functions/text.
        # tokenize splits it INSIDE the streaming plan and explode
        # fans out one row per keyword — the flatMap shape of Flink's
        # UDTF, stateless between the two stateful ops.
        vocab = F.array(*[F.lit(w) for w in _APP8_VOCAB])
        phrase = F.concat(
            F.element_at(
                vocab, (F.pmod(F.col("k"), F.lit(8)) + 1).cast("int")
            ),
            F.lit(" "),
            F.element_at(
                vocab,
                (F.pmod(F.col("k") * 3 + 1, F.lit(8)) + 1).cast("int"),
            ),
        )
        words = ded.select(
            "ts", F.explode(tokenize(phrase)).alias("keyword")
        )
        # A6/W3: per-keyword tumbling count with window meta (:94-130)
        return (
            words.groupBy(F.window("ts", "1 day").alias("w"), "keyword")
            .agg(F.count("*").cast("bigint").alias("keyword_ct"))
            .select(*_win_meta(), "keyword", "keyword_ct")
        )

    # dedup + windowed count = 2 stateful operators; the tokenizer
    # explode is stateless between them
    return _chain_artifact(spark, sf_dir, "app8s", 2, plan)


_APP8_VOCAB_SQL = "['" + "','".join(_APP8_VOCAB) + "']"


@register(
    "app8s_keyword_window_stream_chain",
    survey="P10,U1,ST1,A6,W3,W1,W7",
    doc="The reference's DwsTrafficSourceKeywordPageViewWindow app "
        "END-TO-END as one Structured Streaming query "
        "(DwsTrafficSourceKeywordPageViewWindow.java:66-130): the "
        "search-page filter (P10, :66-77 — k%4==1 'search' views; "
        "sentinels pass on negative ids so the watermark still "
        "advances) → ST1 dedup on event_id (the source re-delivers "
        "slice tails; without it every replayed search double-counts) "
        "→ the tokenizer UDTF as a STATELESS explode between the two "
        "stateful ops (U1, KeywordUtil.java:16-41 — the search phrase "
        "derives deterministically from props.k, functions/text."
        "tokenize splits it in-plan) → per-keyword tumbling count "
        "with window meta (A6/W3/W7, :94-130). Two stateful operators "
        "asserted from the progress records; sentinel flush ⇒ the "
        "sink equals the unrestricted composed batch oracle; the "
        "read-back excludes the far-future sentinel windows "
        "(app2s-style).",
    oracle=f"""
        WITH searches AS (
            SELECT ts,
                   CAST(json_extract_string(props, 'k') AS INT) AS k
            FROM events
            WHERE event_type = 'view'
              AND CAST(json_extract_string(props, 'k') AS INT)
                  % {_APP8_SEARCH_MOD} = 1
        ), words AS (
            SELECT ts, t.keyword
            FROM searches, LATERAL (
                SELECT unnest([
                    {_APP8_VOCAB_SQL}[CAST(k % 8 + 1 AS INT)],
                    {_APP8_VOCAB_SQL}[CAST((k * 3 + 1) % 8 + 1 AS INT)]
                ]) AS keyword
            ) t
        )
        SELECT strftime(time_bucket(INTERVAL 1 DAY, ts),
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL 1 DAY, ts)
                        + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS edt,
               keyword,
               CAST(COUNT(*) AS BIGINT) AS keyword_ct
        FROM words GROUP BY 1, 2, 3
    """,
)
def app8s_keyword_window_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app8s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return _drop_sentinel_windows(spark, sf_dir, back)


# --------------------------------------------------------------------------
# app7s: DwsUserUserLoginWindow — ST5 keyed state CHAINED into an
# update-mode aggregate, delivered by LWW upsert (the reference's
# keyed-process → windowAll → sink shape)
# --------------------------------------------------------------------------


def _login_daily(spark: SparkSession, sf_dir: str, base: str):
    """The app7 topology (shared by app7s and app7x) as a (stream,
    update-mode epoch body) pair: login filter → ST5 returning-user
    keyed state (DwsUserUserLoginWindow
    .java:80-124; emits one row per NEW login date per user — the
    source's replayed slice tails are absorbed by the state's own
    d > last_login_date guard, idempotent under at-least-once, no
    separate dedup operator needed) CHAINED into a per-date aggregate
    in UPDATE mode: each micro-batch emits the changed dates' running
    uu/back totals, and the LWW upsert keyed by cur_date (ord = batch
    id, monotone) folds them so the FINAL store equals the complete
    aggregate — the exact shape of the reference's keyed-process →
    windowAll → upsert-sink, with no watermark and no horizon math."""
    from real_time_data_warehouse_spark.streaming.pipelines import (
        stream_events,
    )
    from real_time_data_warehouse_spark.streaming.sinks import upsert_dim
    from real_time_data_warehouse_spark.streaming.stateful import (
        returning_user,
    )

    store = os.path.join(base, "store")
    logins = (
        stream_events(spark, _app_source(spark, sf_dir))
        .where(F.col("event_type").isin("signup", "click"))
        .select("user_id", "ts")
    )
    daily = (
        returning_user(logins)
        .groupBy("cur_date")
        .agg(
            F.sum("is_uu").cast("bigint").alias("uu_ct"),
            F.sum("is_back").cast("bigint").alias("back_ct"),
        )
    )

    def body(b: DataFrame, bid: int) -> None:
        ups = b.withColumn(
            "ord", F.lit(bid).cast("bigint")
        ).withColumn("op", F.lit("upsert"))
        upsert_dim(
            spark, ups, store, ["cur_date"],
            order_col="ord", type_col="op",
        )

    return daily, body


def _login_store_readback(
    spark: SparkSession, sf_dir: str, base: str
) -> DataFrame:
    back = spark.read.parquet(os.path.join(base, "store"))
    return _drop_sentinel_windows(
        spark, sf_dir, back, col="cur_date", fmt="yyyy-MM-dd"
    ).select("cur_date", "uu_ct", "back_ct")


def _app7s_build(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            q = run_epoch_stream(
                *_login_daily(spark, sf_dir, base),
                os.path.join(base, "ckpt"),
                "update",
            )
            # the keyed ST5 state + the update-mode aggregate state
            _assert_state_operators(dump_progress(q, base), 2)

    return _artifact_dir(spark, sf_dir, "app7s", build)


@register(
    "app7s_user_login_stream_chain",
    survey="ST5,U2,A4,S6,S7",
    doc="The reference's DwsUserUserLoginWindow app END-TO-END as one "
        "Structured Streaming query (DwsUserUserLoginWindow.java:"
        "60-151): login filter (P9, :60-74) → the ST5 returning-user "
        "keyed state via applyInPandasWithState (:80-124; the source's "
        "replayed slice tails are absorbed by the state's own "
        "date-monotonicity guard — idempotent under at-least-once) "
        "CHAINED into a per-date aggregate in UPDATE mode (:126-140's "
        "windowAll reduce), delivered by LWW upsert keyed on cur_date "
        "(ord = monotone batch id — the upsert-Kafka/Doris delivery, "
        ":141-151). A custom-keyed-state operator feeding a downstream "
        "stateful aggregate in ONE plan — the chain st15 and a4 "
        "verified only separately; two stateful operators asserted "
        "from the progress records. The FINAL store equals st5's "
        "unrestricted batch oracle (update-mode running totals folded "
        "by last-write-wins); the read-back excludes the far-future "
        "sentinel dates (app2s-style).",
    oracle=None,  # st5's oracle verbatim — attached below
)
def app7s_user_login_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _login_store_readback(spark, sf_dir, _app7s_build(spark, sf_dir))


# --------------------------------------------------------------------------
# app7x: the app7s chain under a MID-STREAM CRASH + checkpoint restart —
# keyed applyInPandasWithState state recovery (ST5's forever-state)
# --------------------------------------------------------------------------


def _app7x_build(spark: SparkSession, sf_dir: str) -> str:
    def build(base: str) -> None:
        # no debris: the store is an LWW merge sink (the app4s rule —
        # debris modeling belongs to append sinks; a merge sink's
        # mid-write atomicity is the ACID branch's job in production).
        # The coverage here is the KEYED PYTHON STATE: the per-user
        # last_login_date held by applyInPandasWithState must be
        # restored from the checkpoint, or the replayed epoch re-emits
        # already-counted dates with is_uu=1 and the uu totals inflate.
        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            daily, body = _login_daily(spark, sf_dir, base)
            q2 = _run_crash_restart(
                daily, body, os.path.join(base, "ckpt"), lambda: None, "update"
            )
            # the replayed epochs still plan the keyed ST5 state + the
            # update-mode aggregate
            _assert_state_operators(dump_progress(q2, base), 2)

    return _artifact_dir(spark, sf_dir, "app7x", build)


@register(
    "app7x_user_login_crash_restart",
    survey="ST5,U2,A4,X1",
    doc="The app7s chain under a MID-STREAM CRASH + checkpoint restart "
        "— the one recovery class no other crash row covers: app4s and "
        "app9x prove LWW-sink and built-in-operator (dedup/join) state "
        "replay, but none of them recovers an applyInPandasWithState "
        "operator's KEYED PYTHON STATE from a checkpoint. Here the "
        "reference's hardest state — the no-TTL per-user "
        "last_login_date of the 8-day returning-user computation "
        "(DwsUserUserLoginWindow.java:80-124) — is held across epochs "
        "when a one-shot fault kills epoch 2's first attempt after two "
        "committed epochs. The restart must restore every user's state "
        "from the state store (else the replayed epoch re-emits "
        "already-counted dates with is_uu=1 and inflates the totals), "
        "replay the epoch through the downstream update-mode "
        "aggregate, and fold the re-emitted running totals "
        "idempotently via the LWW upsert (same rows, same ord). Both "
        "stateful operators asserted in the replayed epochs' progress "
        "records; the FINAL store equals st5's unrestricted batch "
        "oracle.",
    oracle=None,  # st5's oracle verbatim — attached below
)
def app7x_user_login_crash_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _login_store_readback(spark, sf_dir, _app7x_build(spark, sf_dir))


def _attach_app7s_oracle() -> None:
    from dataclasses import replace

    from real_time_data_warehouse_spark.operators import (  # noqa: F401
        stateful as _stateful,
    )
    from real_time_data_warehouse_spark.registry import QUERY_REGISTRY

    st5 = QUERY_REGISTRY["st5_returning_user"].oracle
    for name in (
        "app7s_user_login_stream_chain",
        "app7x_user_login_crash_restart",
    ):
        QUERY_REGISTRY[name] = replace(
            QUERY_REGISTRY[name], oracle=st5
        )


_attach_app7s_oracle()


# --------------------------------------------------------------------------
# app9s: DwdTradeOrderPaySucDetail — ST1 dedups + J4 interval join + J5
# lookup-dim enrichment as ONE streaming query
# --------------------------------------------------------------------------

_PAY_BACK = _APP_PARAMS["pay_back"]  # od.et >= pi.et - 30 min (:96-97)


def _pay_detail_joined(ev: DataFrame) -> DataFrame:
    """The app9 stateful core (shared by app9s and app9x): payment and
    order-detail branches each ST1-deduped, then the J4 INTERVAL join
    od.et ∈ [pi.et − 30 min, pi.et] (DwdTradeOrderPaySucDetail.java:
    93-97). det_ts is projected away by the caller (one event-time
    column downstream)."""
    pay = _typed_branch(ev, "purchase", "pay_id", "pay_key", "pay_ts")
    det = _typed_branch(ev, "view", "det_id", "det_key", "det_ts")
    return pay.join(
        det,
        (F.col("pay_key") == F.col("det_key"))
        & (F.col("det_ts") >= F.col("pay_ts") - F.expr(_PAY_BACK))
        & (F.col("det_ts") <= F.col("pay_ts")),
    )


def _app9s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        joined = _pay_detail_joined(ev).select(
            "pay_id", "pay_key", "pay_ts", "det_id"
        )
        # J5: the base_dic lookup join (:98 — FOR SYSTEM_TIME AS OF) as
        # a per-batch broadcast hash join against the 25-row dim; the
        # joined rows are enriched in place, no further shuffle
        nation = Tables(spark, sf_dir).nation.select(
            F.col("n_nationkey").alias("province_id"),
            F.col("n_name").alias("province_name"),
        )
        return (
            joined.withColumn(
                "province_id",
                F.pmod(F.col("pay_key"), F.lit(_N_PROVINCES)).cast(
                    "bigint"
                ),
            )
            .join(F.broadcast(nation), "province_id", "left")
            .select(
                "pay_id", "pay_key", "pay_ts", "det_id", "province_name"
            )
        )

    # 2 dedups + 1 symmetric hash join = 3 stateful operators; the dim
    # hop is a stateless per-batch broadcast
    return _chain_artifact(spark, sf_dir, "app9s", 3, plan)


@register(
    "app9s_pay_detail_stream_chain",
    survey="J4,J5,ST1,S1,W5",
    doc="The reference's DwdTradeOrderPaySucDetail app END-TO-END as "
        "one Structured Streaming query (DwdTradeOrderPaySucDetail"
        ".java:74-98): payment and order-detail branches each "
        "ST1-deduped within the watermark (the source re-delivers "
        "slice tails), then the INTERVAL join od.et ∈ [pi.et − 30 min, "
        "pi.et] (J4, event-time-range-bounded symmetric hash join) "
        "chained into the base_dic lookup join (J5, FOR SYSTEM_TIME AS "
        "OF → per-batch broadcast hash join) — three stateful "
        "operators plus a stateless broadcast enrichment in ONE plan, "
        "asserted from the progress records; j13/j15 verify these "
        "pieces only separately. Inner-join emission is eager, and the "
        "sentinel slices flush the dedup/join state, so the sink "
        "equals the UNRESTRICTED batch oracle (sentinels cannot join "
        "— negative non-matching keys). Read-back aggregates per "
        "(pay_key, province_name): pair count + id checksums.",
    oracle=f"""
        SELECT p.user_id AS pay_key,
               n.n_name AS province_name,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(p.event_id) AS BIGINT) AS pay_id_sum,
               CAST(SUM(d.event_id) AS BIGINT) AS det_id_sum
        FROM events p
        JOIN events d ON p.user_id = d.user_id
         AND d.event_type = 'view'
         AND d.ts BETWEEN p.ts - {_PAY_BACK} AND p.ts
        LEFT JOIN nation n ON n.n_nationkey = p.user_id % {_N_PROVINCES}
        WHERE p.event_type = 'purchase'
        GROUP BY 1, 2
    """,
)
def app9s_pay_detail_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app9s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return back.groupBy("pay_key", "province_name").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("pay_id").cast("bigint").alias("pay_id_sum"),
        F.sum("det_id").cast("bigint").alias("det_id_sum"),
    )


# --------------------------------------------------------------------------
# app10s: DwsTradeCartAddUuWindow — ST4-style lastCartAddDate state +
# A5 windowed UU, the window computed IN the streaming plan
# --------------------------------------------------------------------------


def _app10s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        # ST4-shape keyed state: lastCartAddDate per user (DwsTradeCart
        # AddUuWindow.java:69-110) = first-cart-add-per-(user, day)
        # dedup with the event-time column IN the key (st16's
        # watermark-evicted form; the replayed slice tails are exact
        # copies, suppressed by the same state)
        firsts = (
            ev.where(F.col("event_type") == "click")
            .withColumn("day_ts", F.date_trunc("day", "ts"))
            .withWatermark("day_ts", "1 day")
            .dropDuplicates(["user_id", "day_ts"])
        )
        # A5/W1/W7: tumbling UU count with window meta (:112-133) —
        # unlike st16 (which aggregates the sink in BATCH at read-back)
        # the window aggregate here runs INSIDE the streaming plan,
        # chained after the dedup state
        return (
            firsts.groupBy(F.window("day_ts", "1 day").alias("w"))
            .agg(F.count("*").cast("bigint").alias("cart_add_uu"))
            .select(*_win_meta(), "cart_add_uu")
        )

    # dedup state + window state = 2 stateful operators
    return _chain_artifact(spark, sf_dir, "app10s", 2, plan)


@register(
    "app10s_cart_add_uu_stream_chain",
    survey="ST4,A5,W1,W7,ST1",
    doc="The reference's DwsTradeCartAddUuWindow app END-TO-END as one "
        "Structured Streaming query (DwsTradeCartAddUuWindow.java:"
        "69-133): the lastCartAddDate keyed state (first cart-add per "
        "user per day, ST4) as watermark-evicted dropDuplicates with "
        "the event-time column in the key — the replayed slice tails "
        "are suppressed by the same state — CHAINED into the tumbling "
        "UU count with window meta (A5/W1/W7) computed INSIDE the "
        "streaming plan (st16 verifies the dedup alone and aggregates "
        "its sink in batch; here the window aggregate is a second "
        "stateful operator in the same plan, asserted from the "
        "progress records). Sentinel flush ⇒ the sink equals the "
        "unrestricted batch oracle; read-back excludes the far-future "
        "sentinel windows (app2s-style).",
    oracle="""
        SELECT strftime(date_trunc('day', ts),
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(date_trunc('day', ts) + INTERVAL 1 DAY,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cart_add_uu
        FROM events
        WHERE event_type = 'click'
        GROUP BY date_trunc('day', ts)
    """,
)
def app10s_cart_add_uu_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app10s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return _drop_sentinel_windows(spark, sf_dir, back)


# --------------------------------------------------------------------------
# app9x: the app9s chain under a MID-STREAM CRASH + checkpoint restart —
# state-store replay across a multi-stateful-operator topology
# --------------------------------------------------------------------------


def _app9x_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.pipelines import (
        stream_events,
    )

    def build(base: str) -> None:
        src = _app_source(spark, sf_dir)
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")

        joined = _pay_detail_joined(stream_events(spark, src)).select(
            "pay_id", "pay_key", "det_id"
        )

        def body(b: DataFrame, bid: int) -> None:
            # per-epoch overwrite dir: a replayed epoch REPLACES partial
            # output (the x1s exactly-once discipline)
            write_snapshot(b, out, bid)

        def plant_debris() -> None:
            debris = spark.createDataFrame(
                [(-999, -999, -999)], "pay_id bigint, pay_key bigint, "
                "det_id bigint",
            )
            write_snapshot(debris, out, 2)

        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            q2 = _run_crash_restart(joined, body, ckpt, plant_debris)
            # the restarted handle's replayed epochs still plan the
            # full chain: 2 dedups + 1 symmetric hash join
            _assert_state_operators(dump_progress(q2, base), 3)

    return _artifact_dir(spark, sf_dir, "app9x", build)


@register(
    "app9x_pay_detail_crash_restart",
    survey="J4,ST1,W5,X1",
    doc="The app9s multi-stateful-operator chain under a MID-STREAM "
        "CRASH + checkpoint restart — the coverage no other crash row "
        "has: x1s/x2s/app4s/app5s crash topologies with at most one "
        "stateful operator, so none of them certifies STATE-STORE "
        "VERSION REPLAY across a chained topology. Here the two ST1 "
        "dedups and the event-time interval join all hold cross-batch "
        "state when a one-shot fault kills epoch 2's first attempt "
        "after two committed epochs; debris is planted in the crashed "
        "epoch's sink dir; the restart restores ALL THREE operators' "
        "state stores from the checkpoint (asserted at 3 state "
        "operators in the replayed epochs' progress records) and "
        "replays the epoch — dedup state must still suppress the "
        "replayed slice-tail duplicates it absorbed before the crash, "
        "and the join must re-emit exactly the crashed epoch's pairs "
        "(per-epoch overwrite ⇒ debris replaced). Read-back "
        "aggregates per pay_key against the unrestricted batch oracle "
        "— a green row is exactly-once across the failure for a "
        "depth-3 stateful chain.",
    oracle=f"""
        SELECT p.user_id AS pay_key,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(p.event_id) AS BIGINT) AS pay_id_sum,
               CAST(SUM(d.event_id) AS BIGINT) AS det_id_sum
        FROM events p
        JOIN events d ON p.user_id = d.user_id
         AND d.event_type = 'view'
         AND d.ts BETWEEN p.ts - {_PAY_BACK} AND p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY 1
    """,
)
def app9x_pay_detail_crash_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app9x_build(spark, sf_dir)
    back = read_log(spark, os.path.join(base, "out"))
    return back.groupBy("pay_key").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("pay_id").cast("bigint").alias("pay_id_sum"),
        F.sum("det_id").cast("bigint").alias("det_id_sum"),
    )


# --------------------------------------------------------------------------
# app11s: DwdTradeOrderCancelDetail — P5 CDC state-transition gate + ST1
# dedups + the 30-min-state inner join (J3) as ONE streaming query
# --------------------------------------------------------------------------

_CANCEL_BACK = _APP_PARAMS["cancel_back"]
_APP11_GATE = _APP_PARAMS["cancel_gate"]


def _app11s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").try_cast("int")
        # P5: the CDC state-transition predicate (DwdTradeOrderCancel
        # Detail.java:35-43 — old.order_status='1001' AND
        # order_status='1003' → the k-range gate analog). The PURCHASE
        # sentinel passes on its negative id (no k) so the branch
        # watermark, applied AFTER the filter, still advances; the
        # type filter stays ANDed with the gate inside _typed_branch —
        # admitting OTHER types' sentinels would let the 'view'
        # sentinel sit in BOTH join branches and self-join (same key,
        # same ts).
        cancel = _typed_branch(
            ev.where((F.col("event_id") < 0) | k.between(*_APP11_GATE)),
            "purchase", "cancel_id", "cancel_key", "cancel_ts",
        )
        det = _typed_branch(ev, "view", "det_id", "det_key", "det_ts")
        # J3: the 30-min-state inner join (:69-90) — the state TTL
        # becomes the explicit event-time range on the symmetric hash
        # join, exactly the j3 batch row's streaming form
        return cancel.join(
            det,
            (F.col("cancel_key") == F.col("det_key"))
            & (F.col("det_ts") >= F.col("cancel_ts") - F.expr(_CANCEL_BACK))
            & (F.col("det_ts") <= F.col("cancel_ts")),
        ).select("cancel_id", "cancel_key", "det_id")

    return _chain_artifact(spark, sf_dir, "app11s", 3, plan)


@register(
    "app11s_order_cancel_stream_chain",
    survey="P5,J3,ST1,W5,S1",
    doc="The reference's DwdTradeOrderCancelDetail app END-TO-END as "
        "one Structured Streaming query (DwdTradeOrderCancelDetail"
        ".java:35-90): the CDC state-transition predicate (P5, "
        ":35-43 — the k-range gate analog of old_status='1001' AND "
        "status='1003'; sentinels pass on negative ids so the "
        "post-filter branch watermark still advances) → ST1 dedup on "
        "each branch (the source re-delivers slice tails) → the "
        "30-min-state inner join (J3, :69-90 — the state TTL as the "
        "event-time range bounding the symmetric hash join; scaled to "
        "6 h for the sparser synthetic corpus). Three "
        "stateful operators asserted from the progress records; "
        "inner-join emission is eager and the sentinels flush state, "
        "so the sink equals the UNRESTRICTED batch oracle. Read-back "
        "aggregates per cancel_key: pair count + id checksums.",
    oracle=f"""
        SELECT c.user_id AS cancel_key,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(c.event_id) AS BIGINT) AS cancel_id_sum,
               CAST(SUM(d.event_id) AS BIGINT) AS det_id_sum
        FROM events c
        JOIN events d ON c.user_id = d.user_id
         AND d.event_type = 'view'
         AND d.ts BETWEEN c.ts - {_CANCEL_BACK} AND c.ts
        WHERE c.event_type = 'purchase'
          AND CAST(json_extract_string(c.props, 'k') AS INT)
              BETWEEN {_APP11_GATE[0]} AND {_APP11_GATE[1]}
        GROUP BY 1
    """,
)
def app11s_order_cancel_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app11s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return back.groupBy("cancel_key").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("cancel_id").cast("bigint").alias("cancel_id_sum"),
        F.sum("det_id").cast("bigint").alias("det_id_sum"),
    )


# --------------------------------------------------------------------------
# app12s-app17s: the remaining reference topologies — every reference
# app now runs end-to-end as ONE streaming query
# --------------------------------------------------------------------------


def _app12s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").try_cast("int")
        # ST1 dedup absorbs the replayed slice tails, then the P6
        # cart-add delta map (DwdTradeCartAdd.java:28-40): insert
        # (signup analog) keeps the value, update emits the increment
        # data-old (k - 50). Sentinels pass the watermark/dedup and
        # drop at the null-k gate — AFTER the watermark node.
        return (
            ev.withWatermark("ts", _DELAY)
            .dropDuplicatesWithinWatermark(["event_id"])
            .withColumn("k", k)
            .where(F.col("k").isNotNull())
            .select(
                "event_id",
                "user_id",
                F.when(F.col("event_type") == "signup", F.col("k"))
                .otherwise(F.col("k") - F.lit(50))
                .cast("int")
                .alias("delta"),
            )
        )

    return _chain_artifact(spark, sf_dir, "app12s", 1, plan)


@register(
    "app12s_cart_add_stream_chain",
    survey="P6,ST1,S4,F1,F2,F8",
    doc="The reference's DwdTradeCartAdd app END-TO-END as one "
        "Structured Streaming query (DwdTradeCartAdd.java:28-40): ST1 "
        "dedup (the source re-delivers slice tails) → the cart-add "
        "delta map — insert keeps the value, update emits the "
        "increment data−old (P6, arithmetic on casted map strings) → "
        "append sink. Sentinels pass the watermark and drop at the "
        "null-k gate. Read-back aggregates per user: row count + id "
        "checksum + exact delta sum vs the composed oracle.",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN k
                             ELSE k - 50 END) AS BIGINT) AS delta_sum
        FROM (
            SELECT event_id, user_id, event_type,
                   TRY_CAST(json_extract_string(props, 'k') AS INT) AS k
            FROM events
        ) WHERE k IS NOT NULL
        GROUP BY user_id
    """,
)
def app12s_cart_add_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app12s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return back.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.sum("delta").cast("bigint").alias("delta_sum"),
    )


_APP13_DIC = _APP_PARAMS["app13_dic"]


def _app13s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").try_cast("int")
        # P4: map-subscript projection of the comment envelope
        # (DwdInteractionCommentInfo.java:25-33); ST1 dedup; then the
        # J5 lookup join on base_dic (:42-52, FOR SYSTEM_TIME AS OF) as
        # a per-batch broadcast hash join. Sentinels (click) keep the
        # watermark advancing and drop at the inner join (null code).
        comments = (
            ev.where(F.col("event_type") == "click")
            .withWatermark("ts", _DELAY)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(
                "event_id",
                "user_id",
                F.pmod(k, F.lit(_APP13_DIC)).cast("bigint").alias(
                    "appraise_code"
                ),
            )
        )
        dic = Tables(spark, sf_dir).region.select(
            F.col("r_regionkey").alias("appraise_code"),
            F.col("r_name").alias("appraise_name"),
        )
        return comments.join(F.broadcast(dic), "appraise_code")

    return _chain_artifact(spark, sf_dir, "app13s", 1, plan)


@register(
    "app13s_comment_info_stream_chain",
    survey="P4,J5,ST1,S10",
    doc="The reference's DwdInteractionCommentInfo app END-TO-END as "
        "one Structured Streaming query (DwdInteractionCommentInfo"
        ".java:25-52): map-subscript projection of the comment "
        "envelope (P4) → ST1 dedup (replayed slice tails) → the "
        "base_dic lookup join FOR SYSTEM_TIME AS OF (J5) as a "
        "per-batch broadcast hash join against the 5-row dic — the "
        "enriched rows never shuffle. Sentinels keep the watermark "
        "advancing and drop at the inner join (null dic code). "
        "Read-back aggregates per appraise name vs the composed "
        "oracle.",
    oracle=f"""
        SELECT r.r_name AS appraise_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(c.event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS uu
        FROM (
            SELECT event_id, user_id,
                   TRY_CAST(json_extract_string(props, 'k') AS INT)
                       % {_APP13_DIC} AS appraise_code
            FROM events WHERE event_type = 'click'
        ) c
        JOIN region r ON r.r_regionkey = c.appraise_code
        GROUP BY 1
    """,
)
def app13s_comment_info_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app13s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return back.groupBy("appraise_name").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").cast("bigint").alias("uu"),
    )


# the base_db routing config: signup deliberately ABSENT (it falls to
# the reference's bootstrap exclusion, DwdBaseDb.java:45-61) and error
# unconfigured (dropped by the config inner join, :95-104)
_APP14_CONFIG = (
    ("view", "dwd_display"),
    ("click", "dwd_action"),
    ("purchase", "dwd_page"),
)


def _app14s_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.pipelines import (
        stream_events,
    )

    def build(base: str) -> None:
        src = _app_source(spark, sf_dir)
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        config = spark.createDataFrame(
            list(_APP14_CONFIG), "source_type string, sink_table string"
        )

        # P3: bootstrap-record exclusion by prefix (:45-61)
        routed = (
            stream_events(spark, src)
            .where(
                ~F.col("event_type").startswith("sign")
                & ~F.col("event_type").startswith("boot")
            )
            .withWatermark("ts", _DELAY)
            .dropDuplicatesWithinWatermark(["event_id"])
            .join(
                # J7/ST7: the broadcast-state config join IN the
                # streaming plan (x2s joins per batch inside foreachBatch;
                # the reference's BroadcastProcessFunction is in-stream,
                # as here)
                F.broadcast(config),
                F.col("event_type") == F.col("source_type"),
            )
            .select("event_id", "user_id", "sink_table")
        )

        def body(b: DataFrame, bid: int) -> None:
            write_snapshot(b, out, bid, partition_by="sink_table")

        def plant_debris() -> None:
            debris = spark.createDataFrame(
                [(-777, -777, "dwd_action")],
                "event_id bigint, user_id bigint, sink_table string",
            )
            write_snapshot(debris, out, 2, partition_by="sink_table")

        with _stream_shuffle_partitions(spark, _STATE_PARTS):
            q2 = _run_crash_restart(routed, body, ckpt, plant_debris)
            _assert_state_operators(dump_progress(q2, base), 1)

    return _artifact_dir(spark, sf_dir, "app14s", build)


@register(
    "app14s_base_db_stream_chain",
    survey="P3,J7,ST7,X2,S5,ST1",
    doc="The reference's DwdBaseDb app END-TO-END as one Structured "
        "Streaming query WITH a mid-stream crash + checkpoint restart "
        "(DwdBaseDb.java:43-110): bootstrap-record prefix exclusion "
        "(P3, :45-61) → ST1 dedup (replayed slice tails) → the "
        "TableProcess config join IN the streaming plan (J7/ST7 — the "
        "reference's BroadcastProcessFunction; x2s only joins per "
        "batch inside foreachBatch) routing each row to its sink "
        "table and dropping unconfigured types → per-epoch-overwrite "
        "partitioned sinks (S5's file twin). A one-shot fault crashes "
        "epoch 2 after two committed epochs; debris is planted in the "
        "crashed epoch's routed dir; the restart replays it "
        "idempotently. Read-back aggregates per sink_table (sentinel "
        "ids excluded) vs the composed oracle.",
    oracle="""
        WITH config(source_type, sink_table) AS (
            VALUES ('view', 'dwd_display'),
                   ('click', 'dwd_action'),
                   ('purchase', 'dwd_page')
        )
        SELECT c.sink_table AS sink_table,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(e.event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS uu
        FROM events e
        JOIN config c ON e.event_type = c.source_type
        WHERE e.event_type NOT LIKE 'sign%'
          AND e.event_type NOT LIKE 'boot%'
        GROUP BY 1
    """,
)
def app14s_base_db_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app14s_build(spark, sf_dir)
    back = read_log(spark, os.path.join(base, "out"))
    return (
        back.where(F.col("event_id") >= 0)  # sentinel rows route too
        .groupBy("sink_table")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.countDistinct("user_id").cast("bigint").alias("uu"),
        )
    )


_APP15_GATE = _APP_PARAMS["refund_gate"]


def _refund_chain(
    spark: SparkSession, sf_dir: str, kind: str, pay_suc: bool
) -> str:
    """Shared builder for app15s (order refund) and app17s (refund pay
    success): P5 state-transition gate → ST1 dedup → the CHAINED
    base_dic lookups (refund type dic, then province dim) as per-batch
    broadcast hash joins — the reference joins base_dic twice in the
    refund apps (DwdTradeOrderRefund.java:60-96). pay_suc narrows the
    gate to the upper half (the payment-success subset of refunds)."""
    lo, hi = _APP15_GATE
    if pay_suc:
        lo = (lo + hi) // 2 + 1  # 76-90: refunds whose payment succeeded

    def plan(ev: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").try_cast("int")
        refunds = (
            ev.where(
                (F.col("event_type") == "error")
                & ((F.col("event_id") < 0) | k.between(lo, hi))
            )
            .withWatermark("ts", _DELAY)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(
                "event_id",
                "user_id",
                F.get_json_object("props", "$.k")
                .try_cast("int")
                .alias("k"),
            )
        )
        t = Tables(spark, sf_dir)
        dic = t.region.select(
            F.col("r_regionkey").alias("refund_code"),
            F.col("r_name").alias("refund_type"),
        )
        province = t.nation.select(
            F.col("n_nationkey").alias("province_id"),
            F.col("n_name").alias("province_name"),
        )
        return (
            refunds.withColumn(
                "refund_code", F.pmod("k", F.lit(5)).cast("bigint")
            )
            .withColumn(
                "province_id",
                F.pmod("user_id", F.lit(_N_PROVINCES)).cast("bigint"),
            )
            .join(F.broadcast(dic), "refund_code")
            .join(F.broadcast(province), "province_id")
            .select(
                "event_id", "user_id", "refund_type", "province_name"
            )
        )

    return _chain_artifact(spark, sf_dir, kind, 1, plan)


def _refund_oracle(lo: int, hi: int) -> str:
    return f"""
        SELECT r.r_name AS refund_type,
               n.n_name AS province_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(e.event_id) AS BIGINT) AS id_sum
        FROM (
            SELECT event_id, user_id,
                   TRY_CAST(json_extract_string(props, 'k') AS INT) AS k
            FROM events WHERE event_type = 'error'
        ) e
        JOIN region r ON r.r_regionkey = e.k % 5
        JOIN nation n ON n.n_nationkey = e.user_id % {_N_PROVINCES}
        WHERE e.k BETWEEN {lo} AND {hi}
        GROUP BY 1, 2
    """


def _refund_readback(spark, base: str) -> DataFrame:
    back = spark.read.parquet(os.path.join(base, "out"))
    return back.groupBy("refund_type", "province_name").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


@register(
    "app15s_order_refund_stream_chain",
    survey="P5,J5,J6,ST1",
    doc="The reference's DwdTradeOrderRefund app END-TO-END as one "
        "Structured Streaming query (DwdTradeOrderRefund.java:60-96): "
        "the refund state-transition gate (P5; the error-stream "
        "k∈[61,90] analog, disjoint from app11s's cancel gate; no "
        "sentinel is needed — dedup emits first arrivals eagerly and "
        "every downstream op is stateless, so the sink is complete at "
        "end-of-input) → ST1 dedup → the "
        "reference's TWO chained dictionary lookups (refund-type "
        "base_dic + province dim, J5/J6) as per-batch broadcast hash "
        "joins. Read-back aggregates per (refund_type, province) vs "
        "the composed oracle.",
    oracle=_refund_oracle(*_APP15_GATE),
)
def app15s_order_refund_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _refund_readback(
        spark, _refund_chain(spark, sf_dir, "app15s", pay_suc=False)
    )


@register(
    "app17s_refund_pay_suc_stream_chain",
    survey="P5,J5,J6,ST1",
    doc="The reference's DwdTradeRefundPaySucDetail app END-TO-END as "
        "one Structured Streaming query (DwdTradeRefundPaySucDetail"
        ".java:62-101): same shape as app15s — P5 state gate → ST1 "
        "dedup → chained dic/province broadcast lookups — with the "
        "gate narrowed to the payment-success subset (k∈[76,90]), the "
        "reference's refund_payment filter on callback success. "
        "Read-back per (refund_type, province) vs the composed "
        "oracle.",
    oracle=_refund_oracle((_APP15_GATE[0] + _APP15_GATE[1]) // 2 + 1,
                          _APP15_GATE[1]),
)
def app17s_refund_pay_suc_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _refund_readback(
        spark, _refund_chain(spark, sf_dir, "app17s", pay_suc=True)
    )


_APP16_PAGES = _APP_PARAMS["app16_pages"]


def _app16s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(ev: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").try_cast("int")
        page = (
            F.when(F.pmod(k, F.lit(6)) == _APP16_PAGES["home"], "home")
            .when(
                F.pmod(k, F.lit(6)) == _APP16_PAGES["good_detail"],
                "good_detail",
            )
        )
        # P8: keep only home/detail page views (DwsTrafficHomeDetail
        # PageViewWindow.java:65-74); the view-type sentinel passes on
        # its negative id (page NULL) to advance the watermark and is
        # excluded from both state keys' effects at read-back
        views = (
            ev.where(F.col("event_type") == "view")
            .withColumn("page", page)
            .where((F.col("event_id") < 0) | F.col("page").isNotNull())
            .withColumn("day_ts", F.date_trunc("day", "ts"))
            .withWatermark("day_ts", "1 day")
        )
        # ST4 x2: the reference keeps one lastVisitDate ValueState per
        # page type (:76-118) — first-view-per-(user, page, day) dedup
        # with the event-time column in the key (watermark-evicted)
        firsts = views.dropDuplicates(["user_id", "page", "day_ts"])
        # A4: per-page tumbling UV count with window meta (:120-152)
        return (
            firsts.groupBy(
                F.window("day_ts", "1 day").alias("w"), "page"
            )
            .agg(F.count("*").cast("bigint").alias("uv_ct"))
            .select(*_win_meta(), "page", "uv_ct")
        )

    return _chain_artifact(spark, sf_dir, "app16s", 2, plan)


@register(
    "app16s_home_detail_stream_chain",
    survey="P8,ST4,A4,W1,W7",
    doc="The reference's DwsTrafficHomeDetailPageViewWindow app "
        "END-TO-END as one Structured Streaming query (DwsTraffic"
        "HomeDetailPageViewWindow.java:65-152): the home/detail page "
        "filter (P8; the view-type sentinel passes on its negative id "
        "so the post-filter watermark still advances) → the per-page "
        "lastVisitDate keyed state (ST4 — first view per user per "
        "page per day, watermark-evicted dedup with the event-time "
        "column in the key) → the per-page tumbling UV count with "
        "window meta (A4/W1/W7) INSIDE the streaming plan. Two "
        "stateful operators asserted; sentinel flush ⇒ unrestricted "
        "oracle; read-back excludes the far-future sentinel windows "
        "and the sentinel's NULL page group.",
    oracle=f"""
        SELECT strftime(date_trunc('day', ts),
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(date_trunc('day', ts) + INTERVAL 1 DAY,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               CASE TRY_CAST(json_extract_string(props, 'k') AS INT) % 6
                    WHEN {_APP16_PAGES['home']} THEN 'home'
                    ELSE 'good_detail' END AS page,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uv_ct
        FROM events
        WHERE event_type = 'view'
          AND TRY_CAST(json_extract_string(props, 'k') AS INT) % 6
              IN ({_APP16_PAGES['home']}, {_APP16_PAGES['good_detail']})
        GROUP BY 1, 2, 3
    """,
)
def app16s_home_detail_stream_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _app16s_build(spark, sf_dir)
    back = spark.read.parquet(os.path.join(base, "out"))
    return _drop_sentinel_windows(
        spark, sf_dir, back.where(F.col("page").isNotNull())
    )
