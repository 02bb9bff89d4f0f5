"""Real Structured-Streaming execution as a DRIVER-CHECKED row.

Every §2.6 stateful operator already has a batch≡stream replay row, but
those replays drive the foreachBatch APPLIERS directly — the actual
``readStream → withWatermark → window agg → writeStream(append)``
runtime (trigger scheduling, watermark advancement across micro-batches,
append-mode window eviction, checkpoint commit protocol) executed only
under pytest. st14 closes that: it runs the DWS window pipeline
(streaming/pipelines.dws_windowed_agg — the reference's
DwsTradeSkuOrderWindow shape, S7's day-partitioned file sink) as a REAL
streaming query over a multi-file time-ordered source (one file per
micro-batch, so the watermark genuinely advances between batches and
windows are emitted by eviction, not by end-of-input), then reads the
sink back and compares against the one-pass batch oracle on the
closed-window horizon.

Horizon discipline: append mode emits a window only once the watermark
(max event time − 10 s) passes its end; windows still open when the
stream ends stay in state. Spark's watermark is millisecond-truncated,
so instead of reasoning about ≤-vs-< at the exact boundary both the
read-back and the oracle restrict to ``edt ≤ max(ts) − 20 s`` — one
full window inside the guaranteed-emitted region, computable exactly by
both engines.

The stream runs ONCE per (session, sf_dir) into a cached artifact
(j12 discipline); re-runs resume from the checkpoint, find no new
files, and the read-back serves the medians — exactly how a deployment
reads a continuously-maintained DWS table rather than recomputing it.

Every streaming artifact row — here, in app_chains and in dim_refresh —
builds through one harness, ``_stream_artifact``: the row declares its
query over the sink dir it is handed (and, for a crash row, its
debris); the harness owns the cache, the sink and checkpoint paths, the
runner (``run_file_stream``, ``run_epoch_stream`` or the crash driver
``_run_crash_restart``), the progress records and the row's check on
them. State partitions are sized by the runner (``state_store._run``).
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_warehouse_spark.functions.money import (
    dec,
    dec_sum,
    oracle_dec_sum,
)
from real_time_data_warehouse_spark.functions.time import oracle_tumble
# the stream rows register with their batch twins' oracles, so the
# batch-form modules load first
from real_time_data_warehouse_spark.operators import (  # noqa: F401
    dedup,
    similarity,
    stateful,
)
from real_time_data_warehouse_spark.operators.sink_readback import (
    _artifact_dir,
)
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, register
from real_time_data_warehouse_spark.streaming.joins import (
    interval_join_purchases,
    left_outer_stream_join,
)
from real_time_data_warehouse_spark.streaming.monitor import (
    assert_watermark_eviction,
    dump_progress,
)
from real_time_data_warehouse_spark.streaming.pipelines import (
    dws_upsert_sink,
    dws_windowed_agg,
    file_stream,
    log_split_sink,
    routing_sink,
    stream_events,
)
from real_time_data_warehouse_spark.streaming.state_store import (
    STREAM_TIMEOUT_S,
    read_log,
    run_epoch_stream,
    run_file_stream,
    write_snapshot,
)
from real_time_data_warehouse_spark.streaming.stateful import (
    returning_user,
    visitor_fix,
)
from real_time_data_warehouse_spark.tables import Tables

_SRC_FILES = 4  # micro-batches: watermark must advance ACROSS batches
_ST14_HORIZON_S = 20  # closed-window margin (2 windows behind max ts)

# --- the build harness every streaming artifact row starts through ---------

# the epoch every crash row kills: two epochs committed before it
_CRASH_EPOCH = 2


def _assert_state_operators(expect: int):
    """Progress check of a chain row: its claim is the CHAIN, so fail
    loud if Spark planned other than *expect* stateful operators per
    batch (e.g. an optimizer change collapsing a dedup would silently
    degrade the coverage)."""

    def check(records: list[dict]) -> None:
        counts = {
            len(r.get("stateOperators", []))
            for r in records
            if r.get("stateOperators")
        }
        if counts != {expect}:
            raise AssertionError(
                f"app chain expected {expect} stateful operators per "
                f"batch, saw {sorted(counts)} — the composed topology is "
                "no longer what this row verifies"
            )

    return check


def _crash_once(crash_batch: int):
    """Fault injector raising on ``crash_batch``'s FIRST attempt only,
    plus the counter so the build can assert the crash actually fired
    (a fault that never fires silently drops the restart coverage)."""
    calls = {"n": 0}

    def fault(batch_id: int) -> None:
        if batch_id == crash_batch and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError(
                f"injected crash before batch {crash_batch} writes"
            )

    return fault, calls


def _run_crash_restart(
    stream: DataFrame,
    body,
    checkpoint_dir: str,
    plant_debris,
    output_mode: str = "append",
):
    """The crash driver: run the ``body(batch, batch_id)`` epoch query
    over *stream* with a one-shot fault killing epoch _CRASH_EPOCH,
    require the injected crash to terminate it, hand that epoch to
    ``plant_debris(epoch)`` (which plants the partial output a real
    mid-write failure leaves on a sink), then restart the SAME
    streaming DataFrame with the plain ``body`` on the SAME checkpoint,
    returning the finished restarted handle (its progress records cover
    the replayed epochs). The read-back comparing to the batch oracle is
    then checking exactly-once across the failure: epoch replay must
    overwrite the debris, and committed epochs must not re-emit."""
    epoch = _CRASH_EPOCH
    fault, calls = _crash_once(epoch)

    def crashing(batch: DataFrame, batch_id: int) -> None:
        fault(batch_id)
        body(batch, batch_id)

    try:
        run_epoch_stream(stream, crashing, checkpoint_dir, output_mode)
        crashed = False
    except TimeoutError as exc:
        # distinguish a slow host from a dead injector: a timeout with
        # calls['n']==1 means the fault DID fire but the failed query
        # took too long to surface termination — misreporting that as
        # "injector never fired" sends the debugger to the wrong place
        raise TimeoutError(
            "crash-restart build: first query did not terminate within "
            f"{STREAM_TIMEOUT_S} s (fault injector fired: "
            f"{calls['n'] == 1}) — slow host or hung micro-batch, NOT an "
            "injector coverage gap"
        ) from exc
    except StreamingQueryException as exc:  # wraps the injected fault
        crashed = "injected crash" in str(exc)
        if not crashed:
            raise
    if not (crashed and calls["n"] == 1):
        raise AssertionError(
            "fault injector never fired — the source produced fewer than "
            f"{epoch + 1} micro-batches, so this row would no "
            "longer cover a mid-stream restart"
        )
    plant_debris(epoch)
    return run_epoch_stream(stream, body, checkpoint_dir, output_mode)


def _sink_dir(base: str) -> str:
    """The sink dir of the streaming artifact built under *base*."""
    return os.path.join(base, "out")


def _beside_sink(out: str, name: str) -> str:
    """Dir *name* beside the sink dir *out* in the same artifact: a
    gate's store, a dim table the stream reads."""
    return os.path.join(os.path.dirname(out), name)


def _stream_artifact(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    plan,
    check=None,
    debris=None,
    mode: str = "append",
    partition_by: str | None = None,
) -> str:
    """Session-cached artifact of one streaming build: the one template
    every streaming artifact row builds through (the reference's
    BaseApp — environment, checkpointing, source, handle(), execute).

    ``plan(out)`` declares the query over the sink dir *out*
    (``_sink_dir(base)``) and returns ``(stream, body)``. A
    ``body(batch, batch_id)`` runs as the foreachBatch body of a *mode*
    query; a ``body`` of None sinks *stream* as append parquet into
    *out*, partitioned by *partition_by* if given. The checkpoint is
    ``base/ckpt``; the runner sizes a fresh query's state partitions
    (``state_store._run``). With a *debris* planter the run goes through
    the crash driver, which hands ``debris(out, epoch)`` the epoch it
    killed. Every build writes its progress records to
    ``base/progress.jsonl`` and hands them to *check*, the row's claim
    on the run. Returns *base*."""

    def build(base: str) -> None:
        out = _sink_dir(base)
        stream, body = plan(out)
        ckpt = os.path.join(base, "ckpt")
        if body is None:
            q = run_file_stream(stream, out, ckpt, partition_by)
        elif debris is None:
            q = run_epoch_stream(stream, body, ckpt, mode)
        else:
            q = _run_crash_restart(
                stream, body, ckpt, lambda e: debris(out, e), mode
            )
        records = dump_progress(q, base)
        if check is not None:
            check(records)

    return _artifact_dir(spark, sf_dir, kind, build)


# events columns in their wire form (S1): ts as bigint NANOS, exactly as
# streaming/pipelines.EVENTS_RAW_SCHEMA expects and stream_events
# re-normalizes (µs via integer div — a double round-trip loses >2^53).
def _events_wire(ev: DataFrame) -> DataFrame:
    return ev.select(
        "event_id",
        (F.unix_micros("ts") * F.lit(1000).cast("bigint")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _write_time_sliced_source(
    spark: SparkSession,
    sf_dir: str,
    src: str,
    n_files: int,
    transform=None,
) -> None:
    """events → ``n_files`` single-file parquet slices of ascending,
    non-overlapping event-time ranges (one file per micro-batch under
    maxFilesPerTrigger=1). Time-ordered batches are what make the
    watermark genuinely ADVANCE between micro-batches — the property
    every real-streaming driver row here exists to exercise.
    ``transform`` (wire frame → wire frame, ts untouched) rewrites the
    rows inside the same write, e.g. app5s's mangled props. The slices
    land through ``_write_slices``, whose pinned mtimes fix the order
    the file source follows."""
    ev = Tables(spark, sf_dir).events
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    span = (hi - lo) + 1
    # all-integer slice id (wire ts is ns): exact µs via `div`, then
    # floor((us - lo) * n / span) — no doubles anywhere near a boundary
    wire = _events_wire(ev)
    if transform is not None:
        wire = transform(wire)
    sliced = wire.withColumn(
        "b",
        F.expr(
            f"CAST(least({n_files - 1}, "
            f"(ts div 1000 - {lo}L) * {n_files} div {span}L) AS INT)"
        ),
    )
    _write_slices(sliced, src, n_files)


def _write_slices(sliced: DataFrame, dst: str, n_files: int) -> None:
    """Write ``sliced`` (slice id ``0..n_files-1`` in column ``b``) as
    ONE parquet file per non-empty slice, ``dst/batch_<b>.parquet``.

    One write job for all slices: hash-repartition on the slice id puts
    each slice in exactly one task, so partitionBy emits ONE file per
    slice dir (the k1 one-writer-per-topic discipline); the files are
    then moved into ``dst`` in slice order."""
    stage = tempfile.mkdtemp(prefix="rtdw_slice_stage_")
    sliced.repartition(n_files, "b").write.mode("overwrite").partitionBy(
        "b"
    ).parquet(stage)
    os.makedirs(dst, exist_ok=True)
    now = time.time()
    for b in range(n_files):
        bdir = os.path.join(stage, f"b={b}")
        if not os.path.isdir(bdir):
            continue  # empty slice (gappy data): fewer micro-batches
        part = next(p for p in os.listdir(bdir) if p.endswith(".parquet"))
        out = os.path.join(dst, f"batch_{b}.parquet")
        shutil.move(os.path.join(bdir, part), out)
        # PIN the mtimes one second apart in slice order: the one-job
        # write moves all files within the same millisecond, and the
        # file source's modification-time ordering would then be a
        # listing-order coin flip — which breaks every operator that
        # needs ordered micro-batches (st15 regressed exactly so)
        os.utime(out, (now - n_files + b, now - n_files + b))
    shutil.rmtree(stage, ignore_errors=True)


_SLICE_FILE = r"^batch_(\d+)\.parquet$"  # the names _write_slices gives


def _read_slices(spark: SparkSession, src: str) -> DataFrame:
    """A ``_write_slices`` artifact read back, each row's slice id in
    column ``b`` (from its file name). A data file of any other name
    fails loudly instead of reading as a NULL slice id."""
    stray = [
        n for n in os.listdir(src)
        if not n.startswith(("_", ".")) and not re.match(_SLICE_FILE, n)
    ]
    if stray:
        raise ValueError(f"{src}: not a _write_slices file: {stray}")
    return spark.read.parquet(src).withColumn(
        "b", F.regexp_extract("_metadata.file_name", _SLICE_FILE, 1)
        .cast("int"),
    )


def _sliced_source(spark: SparkSession, sf_dir: str, n_files: int) -> str:
    """Session-cached shared slice artifact: the four real-streaming
    rows all stream the same events table, so the sliced source is
    built once per (session, sf_dir) and shared read-only."""
    def build(base: str) -> None:
        _write_time_sliced_source(spark, sf_dir, base, n_files)

    return _artifact_dir(spark, sf_dir, f"evsrc{n_files}", build)


def _sliced_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared sliced source as an event stream, one file per
    micro-batch."""
    return stream_events(spark, _sliced_source(spark, sf_dir, _SRC_FILES))


def _st14_build(spark: SparkSession, sf_dir: str) -> str:
    # the DWS query: watermarked window agg, day-partitioned append sink
    def plan(out: str):
        return dws_windowed_agg(_sliced_events(spark, sf_dir)), None

    return _stream_artifact(
        spark, sf_dir, "st14", plan, partition_by="cur_date"
    )


@register(
    "st14_dws_stream_readback",
    survey="A1,W1,W4,W7,S7",
    doc=f"REAL Structured-Streaming execution driver-checked: the DWS "
        "windowed aggregate runs as an actual readStream → "
        "withWatermark(10 s) → 10 s tumbling agg → append-mode "
        "writeStream over a {n}-file time-ordered source (one file per "
        "micro-batch — the watermark advances BETWEEN batches, so "
        "windows are emitted by watermark eviction, the production "
        "path, not by end-of-input), checkpointed, day-partitioned "
        "(streaming/pipelines.dws_windowed_agg). The sink "
        "is read back on the closed-window horizon (edt ≤ max ts − "
        "{h} s — inside the guaranteed-emitted region on both "
        "engines) and hash-compared to the one-pass batch oracle. "
        "Covers what the foreachBatch replay rows cannot: trigger "
        "scheduling, cross-batch watermark state, append-mode "
        "eviction, and the checkpoint commit protocol."
        .format(n=_SRC_FILES, h=_ST14_HORIZON_S),
    oracle=f"""
        WITH mx AS (
            SELECT MAX(ts) - INTERVAL {_ST14_HORIZON_S} SECOND AS horizon
            FROM events
        )
        SELECT strftime({oracle_tumble('ts', 10)},
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime({oracle_tumble('ts', 10)} + INTERVAL 10 SECOND,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               event_type AS sku_group,
               {oracle_dec_sum('value', 'order_amount')},
               CAST(COUNT(*) AS BIGINT) AS order_ct
        FROM events CROSS JOIN mx
        GROUP BY {oracle_tumble('ts', 10)}, event_type, mx.horizon
        HAVING {oracle_tumble('ts', 10)} + INTERVAL 10 SECOND <= mx.horizon
    """,
)
def st14_dws_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _st14_build(spark, sf_dir)
    ev = Tables(spark, sf_dir).events
    horizon = F.date_format(
        F.timestamp_micros(
            F.unix_micros(F.max("ts")) - _ST14_HORIZON_S * 1_000_000
        ),
        "yyyy-MM-dd HH:mm:ss",
    ).alias("horizon")
    hz = ev.agg(horizon)
    back = spark.read.parquet(_sink_dir(base))
    return (
        back.crossJoin(F.broadcast(hz))  # one-row horizon scalar
        .where(F.col("edt") <= F.col("horizon"))
        .select(
            "stt",
            "edt",
            "sku_group",
            F.col("order_amount").cast("double").alias("order_amount"),
            F.col("order_ct").cast("bigint").alias("order_ct"),
        )
    )


# --- st15: ST5 returning-user under the REAL streaming runtime -------------


def _st15_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        logins = (
            _sliced_events(spark, sf_dir)
            .where(F.col("event_type").isin("signup", "click"))
            .select("user_id", "ts")
        )
        return returning_user(logins), None

    return _stream_artifact(spark, sf_dir, "st15", plan)


@register(
    "st15_returning_user_stream_readback",
    survey="ST5,U2",
    doc=f"ST5 under the REAL streaming runtime, driver-checked: the "
        "returning-user keyed-state operator "
        "(streaming/stateful.returning_user, applyInPandasWithState — "
        "reference DwsUserUserLoginWindow.java:80-124) runs as an actual "
        f"readStream over a {_SRC_FILES}-file time-ordered source (one "
        "file per micro-batch, so the per-user last_login_date state is "
        "carried ACROSS micro-batches through the state store, not within "
        "one pandas call), append writeStream to parquet, checkpointed. "
        "The sink is read back, aggregated to per-day uu/back counts, and "
        "hash-compared to st5's batch oracle. Unlike the st5s replay row "
        "(which drives the applier), a green here is the driver verifying "
        "the applyInPandasWithState RUNTIME: Arrow state round-trips, "
        "GroupState persistence across triggers, and append emission. "
        "Exact because batches are ascending time ranges: each user's "
        "login-date sequence arrives in order, so the cross-batch state "
        "fold equals the batch window-function twin.",
    oracle=QUERY_REGISTRY["st5_returning_user"].oracle,
)
def st15_returning_user_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _st15_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    return back.groupBy("cur_date").agg(
        F.count("*").cast("bigint").alias("uu_ct"),
        F.sum("is_back").cast("bigint").alias("back_ct"),
    )


# --- st16: ST4 first-per-day dedup under the REAL streaming runtime --------


def _st16_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        ev = _sliced_events(spark, sf_dir).withColumn(
            "day_ts", F.date_trunc("day", "ts")
        )
        # watermark ON the dedup's event-time key → Spark evicts
        # (user, day) state once the watermark passes the day; the 1-day
        # delay keeps a day's state alive across the batch boundary that
        # splits it (time-ranged batches guarantee no later arrivals).
        dd = ev.withWatermark("day_ts", "1 day").dropDuplicates(
            ["user_id", "day_ts"]
        )
        return dd.select("user_id", "day_ts"), None

    # the row's whole point is watermark-BOUNDED dedup state (the
    # event-time column is in the dedup key) — assert the cleanup
    # actually removed (user, day) state across batches, same contract
    # as j13/j14
    return _stream_artifact(
        spark, sf_dir, "st16", plan, check=assert_watermark_eviction
    )


@register(
    "st16_daily_uv_stream_readback",
    survey="ST4,ST1,W4",
    doc=f"ST4 under the REAL streaming runtime, driver-checked: "
        "first-event-per-(user, day) detection runs as an actual "
        "readStream → withWatermark(day_ts, 1 day) → "
        f"dropDuplicates([user_id, day_ts]) over a {_SRC_FILES}-file "
        "time-ordered source — the production keyed-dedup path "
        "(DwsTrafficVcChArIsNewPageViewWindow.java:58-106's "
        "lastVisitDate state) with WATERMARK-BOUNDED state: the event-"
        "time column is in the dedup key, so (user, day) state is "
        "evicted once the watermark passes the day — state stays "
        "O(active days × users), not O(history). The append sink is "
        "read back and aggregated to daily UV against st4's batch "
        "oracle. Emission is exact: dedup emits each key's first "
        "arrival immediately, and ascending time-ranged batches mean "
        "no row is ever late against the 1-day-delayed watermark.",
    oracle=QUERY_REGISTRY["st4_first_per_day_uv"].oracle,
)
def st16_daily_uv_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _st16_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    return back.groupBy(
        F.date_format("day_ts", "yyyy-MM-dd").alias("cur_date")
    ).agg(F.count("*").cast("bigint").alias("uv_ct"))


# --- j13: J4 stream-stream interval join under the REAL runtime ------------

_J13_HORIZON_S = 60  # closed-region margin behind max event ts


def _j13_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        return interval_join_purchases(_sliced_events(spark, sf_dir)), None

    # hard evidence the join state is watermark-BOUNDED, not
    # grow-forever: across the ~7.5-day jumps between time-ranged
    # batches the watermark must have removed state rows. Raising here
    # fails the driver row itself — bounded state is part of the
    # contract, not a side observation. Progress comes from the query
    # handle (synchronous), not the async listener bus.
    return _stream_artifact(
        spark, sf_dir, "j13", plan, check=assert_watermark_eviction
    )


@register(
    "j13_interval_join_stream_readback",
    survey="J4,W5,J1",
    doc=f"J4 under the REAL streaming runtime, driver-checked: the "
        "purchase⋈prior-events interval join "
        "(streaming/joins.interval_join_purchases — reference "
        "DwdTradeOrderPaySucDetail.java:74-98, Test01_IntervalJoin."
        f"java:72-83) runs as an actual stream-stream SELF-join over a "
        f"{_SRC_FILES}-file time-ordered readStream: watermarks on BOTH "
        "sides, the ±30-min range predicate sizing the join state, "
        "append sink, checkpointed. The build additionally attaches the "
        "progress listener and FAILS unless "
        "state_rows_dropped_by_watermark > 0 across batches — bounded "
        "state is asserted, not assumed. Read-back restricts to "
        f"purchases ≥{_J13_HORIZON_S} s before max event time (the "
        "watermark-closed region, where emission is guaranteed and "
        "exact on both engines) and aggregates to per-purchase prior "
        "counts against the j4 oracle restricted identically. Unlike "
        "the j4s replay row (which drives the incremental applier), a "
        "green here is the driver verifying Spark's own stream-stream "
        "join runtime: cross-batch join state, watermark eviction, and "
        "eager inner-join emission.",
    oracle=f"""
        WITH mx AS (
            SELECT MAX(ts) - INTERVAL {_J13_HORIZON_S} SECOND AS horizon
            FROM events
        )
        SELECT p.event_id AS pay_id,
               CAST(COUNT(e.event_id) AS BIGINT) AS prior_events
        FROM events p
        JOIN events e
          ON p.user_id = e.user_id
         AND e.ts >= p.ts - INTERVAL 30 MINUTE
         AND e.ts < p.ts
        CROSS JOIN mx
        WHERE p.event_type = 'purchase' AND p.ts <= mx.horizon
        GROUP BY p.event_id
    """,
)
def j13_interval_join_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _j13_build(spark, sf_dir)
    ev = Tables(spark, sf_dir).events
    hz = ev.agg(
        F.timestamp_micros(
            F.unix_micros(F.max("ts")) - _J13_HORIZON_S * 1_000_000
        ).alias("horizon")
    )
    back = spark.read.parquet(_sink_dir(base))
    return (
        back.crossJoin(F.broadcast(hz))  # one-row horizon scalar
        .where(F.col("pay_ts") <= F.col("horizon"))
        .groupBy("pay_id")
        .agg(F.count("prior_id").cast("bigint").alias("prior_events"))
    )


# --- st17: ST3 visitor-flag repair under the REAL streaming runtime --------


def _st17_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        ev = _sliced_events(spark, sf_dir).select("event_id", "user_id", "ts")
        return visitor_fix(ev), None

    return _stream_artifact(spark, sf_dir, "st17", plan)


@register(
    "st17_visitor_fix_stream_readback",
    survey="ST3,U2",
    doc=f"ST3 under the REAL streaming runtime, driver-checked: the "
        "visitor-flag repair (streaming/stateful.visitor_fix, "
        "applyInPandasWithState — reference DwdBaseLog.java:121-188) "
        f"runs as an actual readStream over the {_SRC_FILES}-file "
        "time-ordered source: the per-user first_visit_date state is "
        "carried ACROSS micro-batches through the state store, so a "
        "user whose first visit landed in batch 0 has every later "
        "batch's events repaired to is_new=0 by state, not by a batch-"
        "local window. Append sink read back on the FULL horizon "
        "(everything is emitted by end-of-input) against st3's batch "
        "oracle — per-EVENT rows, so the hash check covers every "
        "repaired flag, not an aggregate. With st15 this closes the "
        "applyInPandasWithState family: both custom-keyed-state "
        "operators now have their actual runtime driver-verified.",
    oracle=QUERY_REGISTRY["st3_visitor_state_fix"].oracle,
)
def st17_visitor_fix_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _st17_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    return back.select("event_id", "user_id", "visit_date", "is_new")


# --- j14: J2 stream-stream LEFT OUTER join under the REAL runtime ----------

_J14_WINDOW_S = 1800  # payment window after the order event
_J14_HORIZON_S = 1800 + 60  # order fully decided: o_ts + window < watermark


def _j14_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        ev = _sliced_events(spark, sf_dir)
        joined = left_outer_stream_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        )
        return joined, None

    return _stream_artifact(
        spark, sf_dir, "j14", plan, check=assert_watermark_eviction
    )


@register(
    "j14_left_outer_stream_readback",
    survey="J2,W5,ext-scale",
    doc=f"J2 under the REAL streaming runtime, driver-checked — the "
        "operator where Flink and Spark diverge hardest (SURVEY "
        "§7.4.1; reference DwdTradeOrderDetail.java:105-108): Flink "
        "emits +I(order, null) immediately and RETRACTS it when the "
        "payment arrives; Spark's append-mode outer join holds the "
        "unmatched order in state and emits the null-padded row "
        "exactly once, when the watermark proves no payment can still "
        "arrive. j14 runs that actual runtime: click ⟕ purchase "
        "within [ts, ts+30 min] per user over the time-ordered "
        f"{_SRC_FILES}-file source, watermarks on both sides, append "
        "sink, checkpointed; the build fails unless progress metrics "
        "show state rows removed by watermark cleanup. Read-back "
        "restricts to orders whose payment window is fully behind the "
        f"final watermark (o_ts ≤ max ts − {_J14_HORIZON_S} s) — "
        "where BOTH match emission and null emission are guaranteed — "
        "and must hash-match the one-pass LEFT JOIN oracle restricted "
        "identically, null pay_ids included. Unlike the j2s replay "
        "(which drives the incremental applier), a green here is "
        "Spark's own outer-join state machine producing the identical "
        "net table with zero retractions.",
    oracle=f"""
        WITH mx AS (
            -- the join's global watermark is the MIN over both input
            -- branches' watermarks (clicks and purchases), so the
            -- guaranteed-decided region hangs off the EARLIER side max
            SELECT LEAST(
                MAX(CASE WHEN event_type = 'click' THEN ts END),
                MAX(CASE WHEN event_type = 'purchase' THEN ts END)
            ) - INTERVAL {_J14_HORIZON_S} SECOND AS horizon
            FROM events
        )
        SELECT o.event_id AS order_id, p.event_id AS pay_id
        FROM events o
        LEFT JOIN events p
          ON o.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= o.ts
         AND p.ts <= o.ts + INTERVAL {_J14_WINDOW_S} SECOND
        CROSS JOIN mx
        WHERE o.event_type = 'click' AND o.ts <= mx.horizon
    """,
)
def j14_left_outer_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _j14_build(spark, sf_dir)
    ev = Tables(spark, sf_dir).events
    # min over the two branch maxima — see the oracle comment: the
    # outer join's watermark (which times null emission) is the min of
    # the click-side and purchase-side watermarks
    hz = ev.agg(
        F.timestamp_micros(
            F.least(
                F.max(
                    F.when(
                        F.col("event_type") == "click", F.unix_micros("ts")
                    )
                ),
                F.max(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.unix_micros("ts"),
                    )
                ),
            )
            - _J14_HORIZON_S * 1_000_000
        ).alias("horizon")
    )
    back = spark.read.parquet(_sink_dir(base))
    return (
        back.crossJoin(F.broadcast(hz))  # one-row horizon scalar
        .where(F.col("o_ts") <= F.col("horizon"))
        .select("order_id", "pay_id")
    )


# --- st18: UPDATE-mode DWS upsert under the REAL streaming runtime ---------


def _st18_build(spark: SparkSession, sf_dir: str) -> str:
    # the DWS update query: update-mode agg, keyed upsert body
    def plan(out: str):
        agg = dws_windowed_agg(_sliced_events(spark, sf_dir), "1 hour")
        return agg, dws_upsert_sink(spark, out)

    return _stream_artifact(spark, sf_dir, "st18", plan, mode="update")


@register(
    "st18_dws_update_upsert_readback",
    survey="A1,W1,S6,S7",
    doc="UPDATE-mode streaming under the driver gate — the reference's "
        "Doris stream-load / upsert-Kafka delivery (windows re-emitted "
        "on every in-watermark change, sink keeps the latest row per "
        "key) as opposed to st14's append-once-final: the DWS tumbling "
        "aggregate runs as readStream → update-mode foreachBatch → "
        "versioned keyed upsert into the serving table "
        "(streaming/pipelines.dws_windowed_agg + dws_upsert_sink over "
        f"the shared {_SRC_FILES}-file time-ordered source). The FINAL "
        "serving state is read back and hash-compared to the batch "
        "aggregate on the FULL horizon — no closed-region cut, because "
        "update mode re-fires until a window's aggregate is complete "
        "and the ordered source means no contribution is ever dropped "
        "as late; the last fire per key therefore equals the batch value "
        "for EVERY window, which is exactly the upsert-sink contract this "
        "row certifies.",
    oracle=f"""
        SELECT strftime({oracle_tumble('ts', 10)},
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime({oracle_tumble('ts', 10)} + INTERVAL 10 SECOND,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               event_type AS sku_group,
               {oracle_dec_sum('value', 'order_amount')},
               CAST(COUNT(*) AS BIGINT) AS order_ct
        FROM events
        GROUP BY {oracle_tumble('ts', 10)}, event_type
    """,
)
def st18_dws_update_upsert_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _st18_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    return back.select(
        "stt",
        "edt",
        "sku_group",
        F.col("order_amount").cast("double").alias("order_amount"),
        F.col("order_ct").cast("bigint").alias("order_ct"),
    )


# --- x1s: X1 5-way foreachBatch fan-out under the REAL runtime, with a
# --- mid-stream crash + checkpoint restart ----------------------------------

# data columns of the x1s/x2s sinks: the streamed events (batch_id and
# the routing column are partition columns)
_EV_SINK_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _sink_checksums(back: DataFrame, key: str, *extra) -> DataFrame:
    """Per-*key* row count, event-id checksum and distinct users of a
    routed sink's read-back (then any *extra* aggregates): the
    exactly-once evidence every fan-out row compares to its oracle."""
    return back.groupBy(key).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").cast("bigint").alias("uu"),
        *extra,
    )


def _x1s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        return _sliced_events(spark, sf_dir), log_split_sink(out)

    def debris(out: str, epoch: int) -> None:
        # partial file a mid-write crash leaves: a few purchase rows
        # already landed in the crashed epoch's side=page dir — the
        # retry must REPLACE them, not append beside them
        ev = Tables(spark, sf_dir).events
        rows = (
            ev.where(F.col("event_type") == "purchase")
            .limit(7)
            .withColumn("side", F.lit("page"))
        )
        write_snapshot(rows, out, epoch, partition_by="side")

    return _stream_artifact(spark, sf_dir, "x1s", plan, debris=debris)


@register(
    "x1s_log_split_stream_readback",
    survey="X1,P2,S4",
    doc="X1 under the REAL streaming runtime WITH a mid-stream crash, "
        "driver-checked: the DwdBaseLog 5-way side-output fan-out "
        "(streaming/pipelines.log_split_sink — reference "
        f"DwdBaseLog.java:192-295) runs as readStream over the "
        f"{_SRC_FILES}-file time-ordered source → foreachBatch tagging "
        "each row with its side and writing ONE side-partitioned "
        "per-epoch-overwrite parquet frame (one write job per epoch). A "
        f"one-shot fault injector crashes epoch {_CRASH_EPOCH}'s "
        "first attempt AFTER two epochs committed; partial-write debris "
        "is planted in the crashed epoch's output; the query restarts "
        "from the same checkpoint. The sink is then read back in one "
        "declared-schema scan and aggregated per side to row counts + id "
        "checksums + distinct users against the batch x1 oracle — a "
        "green row certifies exactly-once across the 5-way foreachBatch "
        "fan-out under failure: "
        "epoch replay overwrote the debris, committed epochs did not "
        "re-emit, no side lost rows.",
    oracle="""
        WITH tagged AS (
            SELECT CASE event_type
                     WHEN 'error' THEN 'err'
                     WHEN 'signup' THEN 'start'
                     WHEN 'view' THEN 'display'
                     WHEN 'click' THEN 'action'
                     WHEN 'purchase' THEN 'page'
                   END AS side, event_id, user_id
            FROM events
        )
        SELECT side,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uu
        FROM tagged
        WHERE side IS NOT NULL
        GROUP BY side
    """,
)
def x1s_log_split_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _x1s_build(spark, sf_dir)
    back = read_log(spark, _sink_dir(base), _EV_SINK_SCHEMA)
    return _sink_checksums(back, "side")


# --- x2s: X2 config-driven dynamic routing under the REAL runtime, with
# --- a mid-stream crash + checkpoint restart --------------------------------

# 'error' is DELIBERATELY unconfigured: the reference routes only
# config-listed tables (DwdBaseDb.java:95-104) — a leak of unrouted
# rows into any sink breaks the counts against the oracle's inner join.
_X2S_CONFIG = [
    ("signup", "dwd_start_log"),
    ("view", "dwd_display_log"),
    ("click", "dwd_action_log"),
    ("purchase", "dwd_page_log"),
]


def _x2s_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        return _sliced_events(spark, sf_dir), routing_sink(_X2S_CONFIG, out)

    def debris(out: str, epoch: int) -> None:
        ev = Tables(spark, sf_dir).events
        rows = (
            ev.where(F.col("event_type") == "click")
            .limit(5)
            .drop("event_type")
            .withColumn("sink_table", F.lit("dwd_action_log"))
        )
        write_snapshot(rows, out, epoch, partition_by="sink_table")

    return _stream_artifact(spark, sf_dir, "x2s", plan, debris=debris)


@register(
    "x2s_dynamic_routing_stream_readback",
    survey="X2,S5,J7",
    doc="X2 under the REAL streaming runtime WITH a mid-stream crash, "
        "driver-checked: config-driven dynamic routing (streaming/"
        "pipelines.routing_sink — reference DwdBaseDb."
        "java:43-110 + FlinkSinkUtil.java:44-65) joins each micro-batch "
        "against the broadcast routing config and lands rows under their "
        "routed sink_table partition of ONE per-epoch-overwrite write "
        "(static, so a retry replaces every sink_table of the epoch). One "
        "event type is deliberately absent from the config, so dropped-"
        "unrouted is part of the checked property. A one-shot fault "
        f"crashes epoch {_CRASH_EPOCH} after two committed epochs, "
        "debris is planted under the crashed epoch's routed dir, and the "
        "query restarts from the same checkpoint. The partitioned sink "
        "tree is read back and aggregated per sink_table against the "
        "oracle's inner join of events × config — exactly-once across "
        "the failure AND correct routing in one hash.",
    oracle="""
        WITH config(source_type, sink_table) AS (
            VALUES ('signup', 'dwd_start_log'),
                   ('view', 'dwd_display_log'),
                   ('click', 'dwd_action_log'),
                   ('purchase', 'dwd_page_log')
        )
        SELECT c.sink_table AS sink_table,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(e.event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS uu
        FROM events e
        JOIN config c ON e.event_type = c.source_type
        GROUP BY c.sink_table
    """,
)
def x2s_dynamic_routing_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _x2s_build(spark, sf_dir)
    back = read_log(spark, _sink_dir(base), _EV_SINK_SCHEMA)
    return _sink_checksums(back, "sink_table")


# --- d7x: the ingestion dedup gate under the REAL runtime, with a
# --- mid-stream crash + checkpoint restart ----------------------------------


def _id_sliced_source(
    spark: SparkSession, sf_dir: str, table: str, cols: tuple[str, str]
) -> str:
    """Session-cached source of *table*'s *cols* (id column first) as
    ``_SRC_FILES`` single-file parquet slices of ascending,
    non-overlapping id ranges (one file per micro-batch under
    maxFilesPerTrigger=1), mtimes pinned in slice order. Ascending-id
    batches are the gates' ordering contract (arrival order IS dedup
    precedence) — the same slicing _replay_batches uses, now as files
    the real file source schedules."""
    id_col = cols[0]

    def build(base: str) -> None:
        rows = getattr(Tables(spark, sf_dir), table).select(*cols)
        max_id = rows.agg(F.max(id_col)).first()[0]
        span = (int(max_id) if max_id is not None else 0) + 1
        sliced = rows.withColumn(
            "b",
            F.expr(
                f"CAST(least({_SRC_FILES - 1}, "
                f"{id_col} * {_SRC_FILES} div {span}L) AS INT)"
            ),
        )
        _write_slices(sliced, base, _SRC_FILES)

    return _artifact_dir(spark, sf_dir, f"{table}src{_SRC_FILES}", build)


def _crashed_epoch_rows(rows: DataFrame, id_col: str, epoch: int):
    """The rows of *epoch*'s slice of an id-sliced source
    (``_id_sliced_source``'s arithmetic)."""
    span = int(rows.agg(F.max(id_col)).first()[0]) + 1
    lo = span * epoch // _SRC_FILES
    hi = span * (epoch + 1) // _SRC_FILES
    return rows.where((F.col(id_col) >= lo) & (F.col(id_col) < hi))


def _d7x_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming.dedup_gate import (
        apply_gate_batch,
    )

    def plan(out: str):
        store = _beside_sink(out, "store")
        src = _id_sliced_source(spark, sf_dir, "documents", ("doc_id", "text"))
        docs = file_stream(spark, src, "doc_id long, text string")
        return docs, lambda b, bid: apply_gate_batch(
            b.sparkSession, b, bid, store, out
        )

    def debris(out: str, epoch: int) -> None:
        from real_time_data_warehouse_spark.operators.dedup import (
            minhash_sigs_for,
        )

        # what a mid-write crash leaves behind in BOTH sinks of the
        # crashed epoch: a few decision rows with WRONG statuses in the
        # out partition (retry must REPLACE them — any survivor breaks
        # the hash against the one-pass oracle) and a partial signature
        # segment in the store (retry must overwrite it; classify_batch's
        # sid < doc_id bound keeps the partial segment from corrupting
        # the retry's own classification)
        docs = Tables(spark, sf_dir).documents.select("doc_id", "text")
        crashed = _crashed_epoch_rows(docs, "doc_id", epoch).limit(5)
        write_snapshot(
            crashed.select(
                "doc_id",
                F.lit("exact_dup").alias("status"),
                F.lit(0).cast("bigint").alias("dup_of"),
            ),
            out,
            epoch,
        )
        write_snapshot(
            crashed.select(
                "doc_id", F.md5(F.lower("text")).alias("th")
            ).join(minhash_sigs_for(crashed), "doc_id", "left"),
            _beside_sink(out, "store"),
            epoch,
        )

    return _stream_artifact(spark, sf_dir, "d7x", plan, debris=debris)


@register(
    "d7x_dedup_gate_stream_readback",
    survey="ext-dedup",
    doc="The ingestion dedup gate under the REAL streaming runtime WITH "
        "a mid-stream crash, driver-checked: streaming/dedup_gate."
        "apply_gate_batch runs as the epoch body of a crash-restart "
        "build (operators/streaming_exec._stream_artifact with a debris "
        "planter) over "
        "readStream(maxFilesPerTrigger=1) "
        f"over a {_SRC_FILES}-file ascending-doc_id source → foreachBatch "
        "classifying each micro-batch against the persistent signature "
        "store (exact md5 + MinHash-LSH band candidates) and appending "
        "the batch's signatures to the store — per-epoch overwrite "
        "partitions on both sinks. A one-shot fault crashes epoch "
        f"{_CRASH_EPOCH}'s first attempt after two committed epochs; "
        "partial-write debris is planted in BOTH the crashed epoch's "
        "decision partition (wrong statuses) and its store segment "
        "(partial signatures); the query restarts from the same "
        "checkpoint. The decision sink is read back whole and compared "
        "to the ONE-PASS d7 batch oracle — a green row certifies the "
        "full claim at once: sequential gate ≡ batch query under the "
        "production trigger/checkpoint path, AND exactly-once across "
        "the failure (epoch replay overwrote the debris in both sinks, "
        "committed epochs did not re-emit, the partial store segment "
        "did not poison the retry's classification).",
    oracle=QUERY_REGISTRY["d7_dedup_gate"].oracle,
)
def d7x_dedup_gate_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _d7x_build(spark, sf_dir)
    return read_log(spark, _sink_dir(base)).select(
        "doc_id", "status", "dup_of"
    )


# --- d9x: the SEMANTIC ingestion gate under the REAL runtime, with a
# --- mid-stream crash + checkpoint restart ----------------------------------


def _d9x_build(spark: SparkSession, sf_dir: str) -> str:
    from real_time_data_warehouse_spark.streaming import embedding_gate

    def plan(out: str):
        store = _beside_sink(out, "store")
        src = _id_sliced_source(
            spark, sf_dir, "embeddings", ("vec_id", "embedding")
        )
        vecs = file_stream(spark, src, "vec_id long, embedding array<float>")
        return vecs, lambda b, bid: embedding_gate.apply_gate_batch(
            b.sparkSession, b, bid, store, out
        )

    def debris(out: str, epoch: int) -> None:
        # mid-write leftovers in both sinks of the crashed epoch:
        # wrong-status decision rows, plus a PARTIAL store segment
        # written through the real banded layout (what the crashed
        # attempt's write job would have landed before dying)
        store = _beside_sink(out, "store")
        vecs = Tables(spark, sf_dir).embeddings.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        crashed = _crashed_epoch_rows(vecs, "vec_id", epoch).limit(3)
        write_snapshot(
            crashed.select(
                "vec_id",
                F.lit("near_dup").alias("status"),
                F.lit(0).cast("bigint").alias("dup_of"),
            ),
            out,
            epoch,
        )
        _, entry = embedding_gate.classify_batch(spark, crashed, store)
        write_snapshot(entry, store, epoch, partition_by=["band", "bucket"])

    return _stream_artifact(spark, sf_dir, "d9x", plan, debris=debris)


@register(
    "d9x_semantic_gate_stream_readback",
    survey="ext-dedup,ext-similarity",
    doc="The SemDeDup-style semantic ingestion gate under the REAL "
        "streaming runtime WITH a mid-stream crash, driver-checked: "
        "streaming/embedding_gate.apply_gate_batch runs as the epoch "
        "body of a crash-restart build (operators/streaming_exec."
        "_stream_artifact with a debris planter) over "
        f"readStream(maxFilesPerTrigger=1) over a {_SRC_FILES}-file "
        "ascending-vec_id source → foreachBatch classifying each "
        "micro-batch against the banded-LSH vector store (candidates "
        "only on band collision) and appending the batch's vectors to "
        "the (band, bucket)-partitioned store — per-epoch overwrite "
        f"partitions on both sinks. A one-shot fault crashes epoch "
        f"{_CRASH_EPOCH}'s first attempt after two committed "
        "epochs; debris lands in both the decision partition (wrong "
        "statuses) and a PARTIAL banded store segment; the query "
        "restarts from the same checkpoint. The decision sink reads "
        "back whole against the ONE-PASS d9 batch oracle — stream ≡ "
        "batch under the production trigger/checkpoint path plus "
        "exactly-once across the failure, for the vector half of the "
        "ingestion-gate pair (d7x is the lexical half).",
    oracle=QUERY_REGISTRY["d9_semantic_gate"].oracle,
)
def d9x_semantic_gate_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _d9x_build(spark, sf_dir)
    return read_log(spark, _sink_dir(base)).select(
        "vec_id", "status", "dup_of"
    )


# --- w12: native session_window aggregation under the REAL runtime ---------

_W12_GAP_S = 28800  # st13's 8 h inactivity gap
_W12_DELAY_S = 10  # watermark delay
_W12_HORIZON_S = 20  # closed-session margin behind max event ts


def _w12_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        agg = (
            _sliced_events(spark, sf_dir)
            .withWatermark("ts", f"{_W12_DELAY_S} seconds")
            .groupBy(
                "user_id",
                F.session_window("ts", f"{_W12_GAP_S} seconds").alias("sw"),
            )
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                dec_sum("value", "value_sum"),
            )
            .select(
                "user_id",
                F.col("sw.start").alias("stt_ts"),
                F.col("sw.end").alias("edt_ts"),
                "n_events",
                "value_sum",
            )
        )
        return agg, None

    return _stream_artifact(spark, sf_dir, "w12", plan)


@register(
    "w12_session_window_stream_readback",
    survey="W8,ST6,ext-scale",
    doc="Spark-native session_window aggregation under the REAL "
        "streaming runtime, driver-checked — the MERGING-window state "
        "type none of the other real-runtime rows exercise (tumbling "
        "agg = st14, dedup = st16, arbitrary keyed state = st15/st17, "
        "stream-stream joins = j13/j14, foreachBatch = d7x/d9x/x1s/"
        f"x2s): readStream → withWatermark({_W12_DELAY_S} s) → "
        f"groupBy(user_id, session_window(ts, {_W12_GAP_S} s)) → "
        "count + exact DECIMAL sum, append sink over the 4-file "
        "time-ordered source — sessions MERGE as later micro-batches "
        "extend them, and a session is emitted only when the watermark "
        "passes its end (last event + gap). Read back on the closed-"
        f"session horizon (end ≤ max ts − {_W12_HORIZON_S} s) against "
        "a gap-island batch oracle with the session_window boundary "
        "convention (diff ≥ gap starts a new session — window ends "
        "are exclusive). st13 is the batch twin; this is its "
        "production delivery path.",
    oracle=f"""
        WITH mx AS (
            SELECT MAX(ts) - INTERVAL {_W12_HORIZON_S} SECOND AS horizon
            FROM events
        ),
        brk AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(LAG(ts) OVER w)
                             >= {_W12_GAP_S}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS seq
            FROM brk
        ),
        rolled AS (
            SELECT user_id,
                   MIN(ts) AS stt_ts,
                   MAX(ts) + INTERVAL {_W12_GAP_S} SECOND AS edt_ts,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {oracle_dec_sum('value', 'value_sum')}
            FROM sess GROUP BY user_id, seq
        )
        SELECT r.user_id,
               strftime(r.stt_ts, '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(r.edt_ts, '%Y-%m-%d %H:%M:%S') AS edt,
               r.n_events, r.value_sum
        FROM rolled r CROSS JOIN mx
        WHERE r.edt_ts <= mx.horizon
    """,
)
def w12_session_window_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _w12_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    horizon = (
        Tables(spark, sf_dir)
        .events.agg(
            (F.max("ts") - F.expr(f"INTERVAL {_W12_HORIZON_S} SECOND"))
            .alias("h")
        )
    )
    return (
        back.crossJoin(F.broadcast(horizon))
        .where(F.col("edt_ts") <= F.col("h"))
        .select(
            "user_id",
            F.date_format("stt_ts", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("edt_ts", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "n_events",
            "value_sum",
        )
    )


# --- j15: stream-static dim enrichment under the REAL runtime (J5/J6) ------

def _j15_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        t = Tables(spark, sf_dir)
        dim = (
            t.customer.join(
                F.broadcast(t.nation),
                F.col("c_nationkey") == F.col("n_nationkey"),
            ).select(
                F.col("c_custkey").alias("user_id"),
                F.col("n_name").alias("nation_name"),
            )
        )
        ev = _sliced_events(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        # stream-static LEFT join, static side broadcast: the per-batch
        # hash-join against the hot dim IS the reference's async-IO +
        # Redis cache (DimAsyncFunction) — no state store involved, so
        # every enriched row is emitted exactly once in append mode
        enriched = ev.join(F.broadcast(dim), "user_id", "left").withColumn(
            "nation_name", F.coalesce("nation_name", F.lit("unknown"))
        )
        return enriched, None

    return _stream_artifact(spark, sf_dir, "j15", plan)


@register(
    "j15_dim_join_stream_readback",
    survey="J5,J6,S10,S11",
    doc="Stream-STATIC dim enrichment under the REAL streaming runtime, "
        "driver-checked — the one join family the real-runtime program "
        "had not executed (j13/j14 are stream-STREAM): readStream events "
        "→ LEFT join against the broadcast customer⨝nation dim (the "
        "lookup/async-dim chain of DimAsyncFunction/DimUtil, reference "
        "DwsTradeSkuOrderWindow.java:480-619, re-expressed as Spark's "
        "stream-static broadcast hash join — stateless, re-planned per "
        "micro-batch, no state store) → append parquet sink over the "
        f"{_SRC_FILES}-file time-ordered source, checkpointed. The sink "
        "is read back whole (stateless join ⇒ no watermark horizon) and "
        "aggregated per nation: row counts, integer id checksum, "
        "distinct users and the exact DECIMAL value sum — a routing or "
        "join-key regression breaks the checksum, not a plan assertion. "
        "Scale: the dim is |customer|-bounded and broadcast once per "
        "batch; the stream side never shuffles (no state, no "
        "repartition), which is the 100 TB shape for hot-dim "
        "enrichment.",
    oracle=f"""
        SELECT COALESCE(n.n_name, 'unknown') AS nation_name,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(e.event_id) AS BIGINT) AS id_sum,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS uu,
               {oracle_dec_sum('e.value', 'value_sum')}
        FROM events e
        LEFT JOIN customer c ON c.c_custkey = e.user_id
        LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY COALESCE(n.n_name, 'unknown')
    """,
)
def j15_dim_join_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _j15_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    return back.groupBy("nation_name").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").cast("bigint").alias("uu"),
        F.sum(dec("value")).cast("double").alias("value_sum"),
    )


# --- w13: sliding event-time window under the REAL runtime (W8) -------------

_W13_SIZE_S = 30
_W13_SLIDE_S = 10
_W13_DELAY_S = 10
_W13_HORIZON_S = 20  # one slide past the watermark delay, like st14


def _w13_build(spark: SparkSession, sf_dir: str) -> str:
    def plan(out: str):
        agg = (
            _sliced_events(spark, sf_dir)
            .withWatermark("ts", f"{_W13_DELAY_S} seconds")
            .groupBy(
                F.window(
                    "ts", f"{_W13_SIZE_S} seconds", f"{_W13_SLIDE_S} seconds"
                ).alias("w"),
                "event_type",
            )
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                dec_sum("value", "value_sum"),
            )
            .select(
                F.col("w.start").alias("stt_ts"),
                F.col("w.end").alias("edt_ts"),
                "event_type",
                "n_events",
                "value_sum",
            )
        )
        return agg, None

    return _stream_artifact(spark, sf_dir, "w13", plan)


_W13_K = _W13_SIZE_S // _W13_SLIDE_S  # overlapping windows per event
_W13_OFFSETS = ", ".join(
    f"floor((epoch(e.ts) - {_W13_SIZE_S}) / {_W13_SLIDE_S} + {i + 1})"
    f" * {_W13_SLIDE_S}"
    for i in range(_W13_K)
)


@register(
    "w13_sliding_window_stream_readback",
    survey="W8,W5,ext-scale",
    doc="Sliding (hopping) event-time window under the REAL streaming "
        "runtime, driver-checked — the overlapping-window state type "
        "the real-runtime program had not exercised (tumbling = st14, "
        "session/MERGING = w12): readStream → withWatermark("
        f"{_W13_DELAY_S} s) → groupBy(window(ts, {_W13_SIZE_S} s, "
        f"{_W13_SLIDE_S} s), event_type) → count + exact DECIMAL sum, "
        f"append sink over the {_SRC_FILES}-file time-ordered source. "
        f"Each event lands in {_W13_K} overlapping windows whose state "
        "is carried across micro-batches and emitted individually as "
        "the watermark passes each window end. Read back on the "
        f"closed-window horizon (edt ≤ max ts − {_W13_HORIZON_S} s) "
        "against an oracle that expands each event into its "
        f"{_W13_K} slide-aligned windows. w8 is the batch twin; this "
        "is its production delivery path.",
    oracle=f"""
        WITH mx AS (
            SELECT MAX(ts) - INTERVAL {_W13_HORIZON_S} SECOND AS horizon
            FROM events
        ),
        slides AS (
            SELECT to_timestamp(s.start_s)::TIMESTAMP AS wstart,
                   e.event_type, e.value
            FROM events e,
            LATERAL (SELECT unnest([{_W13_OFFSETS}]) AS start_s) s
            WHERE epoch(e.ts) >= s.start_s
              AND epoch(e.ts) < s.start_s + {_W13_SIZE_S}
        )
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(wstart + INTERVAL {_W13_SIZE_S} SECOND,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {oracle_dec_sum('value', 'value_sum')}
        FROM slides CROSS JOIN mx
        GROUP BY wstart, event_type, mx.horizon
        HAVING wstart + INTERVAL {_W13_SIZE_S} SECOND <= mx.horizon
    """,
)
def w13_sliding_window_stream_readback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _w13_build(spark, sf_dir)
    back = spark.read.parquet(_sink_dir(base))
    horizon = (
        Tables(spark, sf_dir)
        .events.agg(
            (F.max("ts") - F.expr(f"INTERVAL {_W13_HORIZON_S} SECOND"))
            .alias("h")
        )
    )
    return (
        back.crossJoin(F.broadcast(horizon))  # one-row horizon scalar
        .where(F.col("edt_ts") <= F.col("h"))
        .select(
            F.date_format("stt_ts", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("edt_ts", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
