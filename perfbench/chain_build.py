"""chain_build: cold build and read-back of a whole-app streaming chain.

Each run writes the seeded sf0.01 fixture tables into a fresh directory,
so the chain callable builds its streaming artifact cold (the artifact
cache is keyed by data directory). Nothing else runs: the streaming
state-store and per-batch path does nearly all the work.

The chain is app5s (DwdBaseLog): applyInPandasWithState keyed Python
state, six foreachBatch sinks, and a crash plus checkpoint restart. app2s
and app1s are left out for run time: on 4 cores a cold app2s build takes
~23 s, half of it building its batch source, and app1s ~47 s.
"""

from __future__ import annotations

import os
import statistics
import time

from inputs import make_tables, write_tables

SCALE = 0.01
CHAIN, LABEL = "app5s_base_log_stream_chain", "app5s"
MIN_READBACKS = 6  # read-backs of the built sink, however long they take


def prepare(ctx) -> str:
    data = os.path.join(ctx.work, "chain_in")
    with ctx.tracer.span("bench.inputs", "bench"):
        rows = write_tables(make_tables(ctx.seed, SCALE), data)
    ctx.sizes.update({f"rows.{k}": v for k, v in rows.items()})
    # Start the pandas workers once, as a running warehouse has them; the
    # chain's applyInPandasWithState then reuses them instead of paying
    # process start-up and imports inside the timed build.
    with ctx.setup_step(), ctx.tracer.span("session.warm_python_workers", "session"):
        n = ctx.spark.sparkContext.defaultParallelism
        ctx.spark.range(0, 4 * n, numPartitions=n).mapInPandas(
            lambda frames: frames, "id long").count()
    return data


def measure(ctx, data: str) -> None:
    from tests.conftest import make_duck
    from tests.parity import compare

    from real_time_data_warehouse_spark.registry import oracle_map, query_map

    chain = query_map()[CHAIN]
    with ctx.tracer.span(f"operators.{CHAIN}", "operators") as sid, \
            ctx.jobs.group(LABEL) as jc:
        ctx.stream_label(LABEL)
        t0 = time.perf_counter()
        df = chain(ctx.spark, data)
        t1 = time.perf_counter()
        with ctx.tracer.span(f"operators.{LABEL}.readback", "operators"):
            first = len(df.toPandas())
        t2 = time.perf_counter()
    ctx.record_streams(sid, LABEL, (LABEL,), t0, t1)

    # read-backs of the built sink, as a user of the chain output, for
    # the run's window after the build
    lat = []
    while len(lat) < MIN_READBACKS or time.perf_counter() - t2 < ctx.seconds:
        with ctx.tracer.span(f"operators.{LABEL}.readback", "operators"), \
                ctx.jobs.group("readback") as rc:
            t = time.perf_counter()
            got = len(chain(ctx.spark, data).toPandas())
            lat.append(time.perf_counter() - t)
        ctx.reads.append((rc["jobs"], rc["tasks"]))
        ctx.check(got == first, f"{LABEL} read-back rows {got} != {first}")

    con = make_duck(data)
    ok, why = compare(df, con, oracle_map()[CHAIN])
    ctx.check(ok, f"{LABEL} vs DuckDB oracle: {why}")
    con.close()

    ctx.e2e["result_s"] = t2 - t0
    ctx.e2e["query_ms"] = statistics.median(lat) * 1e3
    ctx.detail[f"chain.{LABEL}.build_s"] = (t1 - t0, "s")
    ctx.detail[f"chain.{LABEL}.readback_ms"] = ((t2 - t1) * 1e3, "ms")
    ctx.detail[f"chain.{LABEL}.jobs"] = (jc["jobs"], "count")
    ctx.named["chain_build_s"] = (t2 - t0, "s", 1)
    ctx.named["readback_ms"] = (statistics.median(lat) * 1e3, "ms", len(lat))
