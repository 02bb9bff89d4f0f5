"""serve_live: ADS reads beside live CDC ingest, in one process.

Three threads share the session:

- a generator lands seeded Maxwell CDC files (built with
  ``sources.cdc.synthetic_cdc_json`` over the sf0.01 orders) on a fixed
  open-loop schedule, one every ``INTERVAL`` seconds;
- an ingest thread calls ``streaming.trade.run_trade_pipeline`` whenever
  files are pending — an incremental ``availableNow`` run that resumes
  from its checkpoints — then confirms visibility with
  ``trade.ads_gmv``;
- one closed-loop ADS client calls ``serving.gmv_for_date``,
  ``serving.province_stats`` and ``serving.channel_topk`` in turn, until
  the ingest thread has made the last file visible, on a
  seeded date mix, over day-partitioned tables that set-up builds with
  ``materialize_dws_trade_daily`` / ``materialize_dws_province_daily``
  from orders whose dates are remapped into a ``RETENTION_DAYS`` window.

Files land in event-time order, as a CDC stream arrives: the DWD dedup
and the DWS window drop rows behind their watermarks (3 s and 1 day), so
a shuffled landing order would lose data by design. Set-up ingests the
older history as one bootstrap file; the live files carry the newest
``LIVE_ENVELOPES`` envelopes each.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from datetime import datetime, timezone
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import ORDER_DAYS, ORDER_EPOCH, make_tables, remap_days, write_tables
from tests.conftest import make_duck
from tests.parity import canonical_rows

SCALE = 0.01
INTERVAL = 2.0          # seconds between live file landings
LIVE_ENVELOPES = 1000   # mean envelopes per live file
RETENTION_DAYS = 90     # ADS serving window → partition count
DRAIN_S = 90.0          # max wait after the window for the last files
ENDPOINTS = ("gmv_for_date", "province_stats", "channel_topk")


def _inputs(ctx) -> dict:
    tables = make_tables(ctx.seed, SCALE)
    live_in = os.path.join(ctx.work, "live_in")
    ads_in = os.path.join(ctx.work, "ads_in")
    rows = write_tables(tables, live_in)
    # ADS inputs: the same orders with their days remapped into the window
    orders = tables["orders"]
    day = (orders["o_orderdate"].to_numpy().astype("datetime64[D]")
           - ORDER_EPOCH).astype(np.int64)
    first = ORDER_EPOCH + ORDER_DAYS - RETENTION_DAYS
    moved = (first + remap_days(ctx.seed, RETENTION_DAYS)[day]).astype("datetime64[us]")
    i = orders.schema.get_field_index("o_orderdate")
    tables["orders"] = orders.set_column(i, "o_orderdate", pa.array(moved))
    write_tables(tables, ads_in)
    ctx.sizes.update({f"rows.{k}": v for k, v in rows.items()})
    return {"live_in": live_in, "ads_in": ads_in}


def _envelopes(ctx, live_in: str) -> list[tuple[int, str, int, str, str]]:
    """(ts, value, order id, day, amount) per CDC envelope, event-time
    ordered with seeded tie-breaks among equal timestamps."""
    from real_time_data_warehouse_spark.sources.cdc import synthetic_cdc_json
    from real_time_data_warehouse_spark.tables import Tables

    with ctx.tracer.span("sources.synthetic_cdc_json", "sources"):
        values = [r[0] for r in synthetic_cdc_json(
            Tables(ctx.spark, live_in).orders).collect()]
    env = []
    for v in values:
        e = json.loads(v)
        day = datetime.fromtimestamp(e["ts"], timezone.utc).strftime("%Y-%m-%d")
        env.append((e["ts"], v, int(e["data"]["id"]), day, e["data"]["total_amount"]))
    rng = np.random.default_rng([ctx.seed, 1])
    order = np.lexsort((rng.random(len(env)), [e[0] for e in env]))
    return [env[j] for j in order]


def prepare(ctx) -> dict:
    """Generate the inputs and expected answers (the benchmark's work),
    then set the program up: build the ADS tables, ingest the history and
    make one call per endpoint, timed as set-up."""
    from pyspark.sql import functions as F

    from real_time_data_warehouse_spark import serving
    from real_time_data_warehouse_spark.streaming.trade import run_trade_pipeline
    from real_time_data_warehouse_spark.tables import Tables

    spark, work = ctx.spark, ctx.work
    with ctx.tracer.span("bench.inputs", "bench"):
        st = _inputs(ctx)
        st.update(_cdc_files(ctx, st))
    st["dws_trade"] = os.path.join(work, "ads", "dws_trade")
    st["dws_prov"] = os.path.join(work, "ads", "dws_province")

    def materialize() -> None:
        with ctx.tracer.span("serving.materialize", "serving"):
            serving.materialize_dws_trade_daily(spark, st["ads_in"], st["dws_trade"])
            serving.materialize_dws_province_daily(spark, st["ads_in"], st["dws_prov"])

    # the ADS tables and the streaming history are independent, and both
    # are bound by per-job fixed cost, so they are built side by side
    with ctx.setup_step():
        ads_tables = ctx.thread(materialize, "materialize")
        # history: the bootstrap file, ingested once before the window opens
        with ctx.tracer.span("streaming.run_trade_pipeline", "streaming"):
            t = Tables(spark, st["live_in"])
            st["dim"] = t.customer.join(
                F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
            ).select(F.col("c_custkey").alias("user_id"),
                     F.col("n_name").alias("province_name"))
            ctx.stream_label("bootstrap")
            st["paths"] = run_trade_pipeline(spark, st["ods"], st["dim"], st["wh"])
        ads_tables.join()
    ctx.raise_thread_errors()
    ctx.drop_streams("bootstrap")
    ctx.sizes["ads.partitions"] = sum(
        d.startswith("cur_date=") for d in os.listdir(st["dws_trade"]))

    with ctx.tracer.span("bench.expected_answers", "bench"):
        _expected_ads(ctx, st)
    # one call per endpoint, so code paths a long-running server has
    # already compiled are not timed on the first request
    for ep, path in (("gmv_for_date", st["dws_trade"]), ("province_stats", st["dws_prov"]),
                     ("channel_topk", st["live_in"])):
        day = next(d for e, d in st["requests"] if e == ep)
        with ctx.setup_step(), ctx.tracer.span(f"serving.{ep}.warm", "serving"):
            getattr(serving, ep)(spark, path, day).collect()
    return st


def _cdc_files(ctx, st: dict) -> dict:
    """Seeded split of the CDC envelopes into a bootstrap file (in the ODS
    directory) and live files (staged), and what each file adds to the
    serving layer."""
    env = _envelopes(ctx, st["live_in"])
    n_live = math.ceil(ctx.seconds / INTERVAL)
    rng = np.random.default_rng([ctx.seed, 2])
    sizes = rng.integers(LIVE_ENVELOPES // 2, LIVE_ENVELOPES * 3 // 2 + 1, n_live)
    cuts = [len(env) - int(sizes.sum())]
    if cuts[0] < len(env) // 4:
        raise ValueError(f"{ctx.seconds} s of live files need more than the "
                         f"{len(env)} envelopes at sf{SCALE}")
    for s in sizes:
        cuts.append(cuts[-1] + int(s))
    files = [env[a:b] for a, b in zip([0] + cuts[:-1], cuts)]
    out = {"ods": os.path.join(ctx.work, "ods"), "stage": os.path.join(ctx.work, "stage"),
           "wh": os.path.join(ctx.work, "warehouse"), "files": []}
    os.makedirs(out["ods"])
    os.makedirs(out["stage"])
    for k, chunk in enumerate(files):
        path = os.path.join(out["ods"] if k == 0 else out["stage"], f"cdc_{k:04d}.parquet")
        pq.write_table(pa.table({"value": [e[1] for e in chunk]}), path)
        out["files"].append(path)
    ctx.sizes.update({"gen.envelopes": len(env), "gen.files": len(files),
                      "gen.bootstrap_envelopes": len(files[0])})

    # expected serving content: per file, per day, the orders it adds
    # (an order becomes visible with its first envelope; DWD keeps the first)
    seen: set[int] = set()
    out["adds"] = []
    for chunk in files:
        adds: dict[str, list] = {}
        for _, _, oid, day, amount in chunk:
            if oid not in seen:
                seen.add(oid)
                a = adds.setdefault(day, [0, Decimal(0)])
                a[0] += 1
                a[1] += Decimal(amount)
        out["adds"].append(adds)
    out["last_day"] = [chunk[-1][3] for chunk in files]
    out["n_orders"] = len(seen)
    return out


def _expected_ads(ctx, st: dict) -> None:
    """Seeded request sequence and the batch answer for each request."""
    rng = np.random.default_rng([ctx.seed, 3])
    days = sorted(d[len("cur_date="):] for d in os.listdir(st["dws_trade"])
                  if d.startswith("cur_date="))
    pool = list(rng.choice(days, 16, replace=False))
    ev_days = [f"2024-01-{d:02d}" for d in range(1, 31)]
    ev_pool = list(rng.choice(ev_days, 8, replace=False))
    st["requests"] = [
        (ENDPOINTS[i % 3], str(rng.choice(ev_pool if i % 3 == 2 else pool)))
        for i in range(3000)
    ]
    ads = make_duck(st["ads_in"])
    live = make_duck(st["live_in"])
    day = "strftime(o_orderdate, '%Y-%m-%d')"
    amount = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    want = {}
    for d in pool:
        want[("gmv_for_date", d)] = canonical_rows(ads.execute(
            f"SELECT {day} AS cur_date, {amount} AS gmv FROM orders "
            f"WHERE {day} = ? GROUP BY 1", [d]).fetchdf())
        want[("province_stats", d)] = canonical_rows(ads.execute(
            f"SELECT n_name AS province_name, {amount} AS order_amount, "
            "COUNT(DISTINCT o_orderkey) AS order_ct FROM orders "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE {day} = ? GROUP BY 1", [d]).fetchdf())
    for d in ev_pool:
        want[("channel_topk", d)] = canonical_rows(live.execute(
            "SELECT event_type AS ch, COUNT(DISTINCT user_id) AS uv_ct FROM events "
            "WHERE strftime(ts, '%Y-%m-%d') = ? GROUP BY 1 "
            "ORDER BY uv_ct DESC, ch LIMIT 3", [d]).fetchdf())
    ads.close()
    live.close()
    st["want"] = want


def _gmv_expected(st: dict, day: str, upto: int) -> tuple[int, float]:
    """Orders and GMV of ``day`` once files 0..upto are ingested."""
    n, total = 0, Decimal(0)
    for adds in st["adds"][:upto + 1]:
        a = adds.get(day)
        if a:
            n += a[0]
            total += a[1]
    return n, float(total)


def _gmv_ok(row, n: int, gmv: float) -> bool:
    return (row is not None and row["order_ct"] == n
            and abs(row["gmv"] - gmv) <= 1e-9 * abs(gmv) + 1e-6)


def measure(ctx, st: dict) -> None:
    from real_time_data_warehouse_spark import serving
    from real_time_data_warehouse_spark.streaming.trade import (
        ads_gmv,
        run_trade_pipeline,
    )

    spark = ctx.spark
    n_files = len(st["files"])  # file 0 is the ingested bootstrap
    due = [None] + [(k - 1) * INTERVAL for k in range(1, n_files)]
    landed = [0.0] * n_files
    state = {"landed": 1, "visible": 1, "late": [], "backlog": 0, "client_end": 0.0}
    ingest_done = threading.Event()
    fresh: list[float] = []
    calls: dict[str, list] = {ep: [] for ep in ENDPOINTS}
    live_ms: list[float] = []
    t0 = time.perf_counter() + 0.2

    def generator() -> None:
        for k in range(1, n_files):
            time.sleep(max(0.0, t0 + due[k] - time.perf_counter()))
            with ctx.tracer.span("sources.land_file", "sources"):
                dst = os.path.join(st["ods"], os.path.basename(st["files"][k]))
                os.replace(st["files"][k], dst)
                os.utime(dst)
            landed[k] = time.perf_counter()
            state["late"].append(landed[k] - t0 - due[k])
            state["landed"] = k + 1
            state["backlog"] = max(state["backlog"], k + 1 - state["visible"])

    def ingest() -> None:
        try:
            ingest_files()
        finally:
            ingest_done.set()

    def ingest_files() -> None:
        deadline = t0 + ctx.seconds + DRAIN_S
        while state["visible"] < n_files:
            upto = state["landed"]
            if upto == state["visible"]:
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"{n_files - upto} CDC files never landed")
                time.sleep(0.01)
                continue
            with ctx.tracer.span("streaming.run_trade_pipeline", "streaming") as sid:
                ctx.stream_label("trade")
                t_call = time.perf_counter()
                run_trade_pipeline(spark, st["ods"], st["dim"], st["wh"])
                t_end = time.perf_counter()
            ctx.record_streams(sid, "trade", ("dwd", "dws"), t_call, t_end)
            fresh.extend(t_end - t0 - due[k] for k in range(state["visible"], upto))
            state["visible"] = upto
            # visibility: the newest landed day holds every order of the
            # files ingested before the call, and none past those landed now
            day, now = st["last_day"][upto - 1], state["landed"]
            with ctx.tracer.span("serving.live_gmv", "serving"):
                t = time.perf_counter()
                row = ads_gmv(spark, st["paths"]["serving"], day).first()
                live_ms.append((time.perf_counter() - t) * 1e3)
            ok = any(_gmv_ok(row, *_gmv_expected(st, day, j)) for j in range(upto - 1, now))
            ctx.check(ok, f"live ads_gmv {day} after {upto} files: {row}")

    def client() -> None:
        fns = {"gmv_for_date": (serving.gmv_for_date, st["dws_trade"]),
               "province_stats": (serving.province_stats, st["dws_prov"]),
               "channel_topk": (serving.channel_topk, st["live_in"])}
        time.sleep(max(0.0, t0 - time.perf_counter()))
        for ep, day in st["requests"]:
            if ingest_done.is_set():
                break
            fn, path = fns[ep]
            with ctx.tracer.span(f"serving.{ep}", "serving"), ctx.jobs.group(ep) as jc:
                t = time.perf_counter()
                rows = fn(spark, path, day).collect()
                dt = time.perf_counter() - t
            # the partition column comes back as a date
            got = canonical_rows(pd.DataFrame(
                [{k: str(v) if k == "cur_date" else v for k, v in r.asDict().items()}
                 for r in rows]))
            ctx.check(got == st["want"][(ep, day)], f"{ep}({day}) = {got}")
            calls[ep].append((dt, jc["jobs"], jc["tasks"]))
            ctx.reads.append((jc["jobs"], jc["tasks"]))
        state["client_end"] = time.perf_counter()

    threads = [ctx.thread(f, name) for name, f in
               (("generator", generator), ("ingest", ingest), ("ads", client))]
    for th in threads:
        th.join()
    ctx.raise_thread_errors()
    window = state["client_end"] - t0

    _final_checks(ctx, st)

    lat = [c[0] for ep in ENDPOINTS for c in calls[ep]]
    ctx.e2e["result_s"] = statistics.median(fresh)
    # the endpoints' latencies form three clusters, so the median of the
    # mix jumps between them with the request count; weigh each equally
    ctx.e2e["query_ms"] = statistics.fmean(
        statistics.median(c[0] for c in calls[ep]) for ep in ENDPOINTS) * 1e3
    ctx.named["fresh_p50_s"] = (statistics.median(fresh), "s", len(fresh))
    ctx.named["ads_p50_ms"] = (statistics.median(lat) * 1e3, "ms", len(lat))
    ctx.named["ads_qps"] = (len(lat) / window, "1/s", len(lat))
    for ep in ENDPOINTS:
        for i, (f, u) in enumerate((("ms", "ms"), ("jobs", "count"), ("tasks", "count"))):
            v = statistics.median(c[i] for c in calls[ep])
            ctx.detail[f"ads.{ep}.{f}"] = (v * 1e3 if f == "ms" else v, u)
    ctx.detail["ads.live_gmv_ms"] = (statistics.median(live_ms), "ms")
    ctx.detail["live.fresh_max_s"] = (max(fresh), "s")
    ctx.detail["gen.late_max_s"] = (max(state["late"]), "s")
    ctx.detail["gen.backlog_max_files"] = (state["backlog"], "count")


def _final_checks(ctx, st: dict) -> None:
    """DWD holds every order once; final GMV on probe days equals the
    DECIMAL recomputation over everything that landed."""
    from real_time_data_warehouse_spark.streaming.trade import ads_gmv

    n_dwd = ctx.spark.read.parquet(st["paths"]["dwd"]).count()
    ctx.check(n_dwd == st["n_orders"], f"DWD rows {n_dwd} != orders {st['n_orders']}")
    days = sorted({d for adds in st["adds"] for d in adds})
    rng = np.random.default_rng([ctx.seed, 4])
    probes = set(rng.choice(days, 4, replace=False)) | set(st["last_day"][-2:])
    last = len(st["files"]) - 1
    for day in sorted(probes):
        row = ads_gmv(ctx.spark, st["paths"]["serving"], str(day)).first()
        ctx.check(_gmv_ok(row, *_gmv_expected(st, str(day), last)),
                  f"final ads_gmv {day}: {row}")

