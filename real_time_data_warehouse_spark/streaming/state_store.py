"""Owner of the per-batch epoch layout every incremental streaming
applier, replay harness and ``foreachBatch`` sink in this package uses.

Layout: a batch's state snapshot and its output partition live at
``<dir>/batch_id=N`` (``epoch_dir``). Batch N reads the LATEST snapshot
with id < N (``read_snapshot`` — the replay bound) and overwrites its
own snapshot and output partition (``write_snapshot`` /
``write_then_read``), so a retried batch re-reads the pre-batch state
and is idempotent: the per-epoch overwrite that gives Structured
Streaming's file sinks exactly-once output. No other module builds a
``batch_id=`` path.

Fan-out sinks (one micro-batch routed to several sides) write ONE frame
per epoch with a routing column, partitioned by it
(``write_snapshot(..., partition_by="side")`` →
``<dir>/batch_id=N/side=S``): one write job per epoch instead of one
per side. The epoch write pins ``partitionOverwriteMode=static``, so a
retried epoch replaces EVERY routed partition of the epoch, whatever
the session sets: under ``dynamic`` a retry that routes no rows to some
side would leave that side's partial output from the failed attempt
beside the replay — a silent duplicate.

Logs: ``read_log`` reads every epoch under a directory with
``batch_id`` as a partition column; upsert logs compact with
``last_wins_log`` (per key, the row of the latest emitting batch).

Runners: this module also owns how every streaming build in the package
starts, waits and times out. ``run_epoch_stream`` runs a
``foreachBatch`` body, ``run_file_stream`` an append parquet sink; both
start an ``availableNow`` query on its checkpoint, wait for it under the
one ``STREAM_TIMEOUT_S`` limit (stopping the query and raising
``TimeoutError`` past it — a partial sink is never handed back as
finished) and return the finished handle, whose ``recentProgress`` holds
the run's progress records. A failing micro-batch surfaces as the
``StreamingQueryException`` the wait raises. ``run_applier_stream``
wires an applier ``(spark, batch, batch_id, state_dir, out_dir)`` as an
epoch body, the same body the ``_replay_batches`` rows drive.

Readers must project through a declared schema: snapshots may carry
extra APPLIER-PRIVATE columns beyond the logical state (e.g. the
``tb``/``nb`` touched-key flags the fold-touched appliers persist), so
every snapshot read passes its caller's schema — as ``read_snapshot``
does — never ``spark.read.parquet`` with an inferred schema over a
state dir.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def epoch_dir(base: str, batch_id: int) -> str:
    """The directory of epoch *batch_id* under *base*."""
    return os.path.join(base, f"batch_id={batch_id}")


def read_snapshot(
    spark: SparkSession, state_dir: str, batch_id: int, schema: str
) -> DataFrame:
    """Latest ``batch_id=K`` snapshot under *state_dir* with
    K < *batch_id* (the replay bound), else an empty frame of
    *schema*. The caller-declared schema is handed to the reader so
    the driver skips the per-batch parquet footer probe (guide §6 —
    schema inference is driver-side work paid once per read)."""
    best = -1
    if os.path.isdir(state_dir):
        for name in os.listdir(state_dir):
            m = re.fullmatch(r"batch_id=(\d+)", name)
            if m and int(m.group(1)) < batch_id:
                best = max(best, int(m.group(1)))
    if best >= 0:
        return spark.read.schema(schema).parquet(epoch_dir(state_dir, best))
    return spark.createDataFrame([], schema)


def write_snapshot(
    df: DataFrame,
    state_dir: str,
    batch_id: int,
    partition_by: str | list[str] | None = None,
) -> None:
    """Overwrite epoch *batch_id* of a state or output dir (idempotent
    under replay), partitioned by the *partition_by* column(s) if given.
    The whole epoch is replaced (static overwrite, pinned per write)."""
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(epoch_dir(state_dir, batch_id))


def write_then_read(
    df: DataFrame, state_dir: str, batch_id: int, schema: str
) -> DataFrame:
    """Overwrite snapshot *batch_id* and return a READ of the written
    files. For a frame that feeds both its own snapshot write and a
    downstream derivation, this replaces the localCheckpoint +
    write + derive pattern (3 jobs over the same rows) with write +
    derive (2): the snapshot write IS the materialization, and the
    read-back is the same bytes the checkpoint would have held."""
    write_snapshot(df, state_dir, batch_id)
    return df.sparkSession.read.schema(schema).parquet(
        epoch_dir(state_dir, batch_id)
    )


def read_log(
    spark: SparkSession, out_dir: str, schema: str | None = None
) -> DataFrame:
    """Every epoch under *out_dir*, ``batch_id`` (and any column the
    epochs were partitioned by) as a partition column. A declared
    *schema* of the data columns skips the parquet-footer job."""
    reader = spark.read.option("basePath", out_dir)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(out_dir)


def last_wins_log(
    spark: SparkSession, out_dir: str, keys: list[str]
) -> DataFrame:
    """Compact an upsert log: per *keys*, the row of the latest batch
    that emitted the key."""
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return (
        read_log(spark, out_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


# One hang limit for every streaming build: a query still running past it
# is stopped and reported, never read back as a finished sink.
STREAM_TIMEOUT_S = 300


def _run(writer, checkpoint_dir: str):
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming build did not finish within {STREAM_TIMEOUT_S} s "
            "— refusing to hand back a partial sink"
        )
    return q


def run_epoch_stream(
    stream: DataFrame, body, checkpoint_dir: str, output_mode: str = "append"
):
    """Run ``body(batch, batch_id)`` as an availableNow ``foreachBatch``
    query over *stream* to completion; returns the finished handle."""
    return _run(
        stream.writeStream.foreachBatch(body).outputMode(output_mode),
        checkpoint_dir,
    )


def run_file_stream(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
):
    """Run *df* as an availableNow append-mode parquet sink into
    *out_dir* (partitioned by the *partition_by* column if given) to
    completion; returns the finished handle."""
    w = df.writeStream.format("parquet").option("path", out_dir)
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    return _run(w.outputMode("append"), checkpoint_dir)


def run_applier_stream(
    source: DataFrame,
    apply_batch,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Run ``apply_batch(spark, batch, batch_id, state_dir, out_dir)``
    over the streaming *source* through ``run_epoch_stream``."""
    return run_epoch_stream(
        source,
        lambda b, bid: apply_batch(b.sparkSession, b, bid, state_dir, out_dir),
        checkpoint_dir,
    )
