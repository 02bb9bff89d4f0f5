"""Registry-wide plan lint: no query may plan a true CartesianProduct.

Broadcast nested-loop joins against 1-row bounds/totals frames are fine
(and deliberate); a CartesianProduct node means two non-broadcast sides
are being paired row-by-row — the all-pairs shape every operator in this
repo is specifically designed to avoid. A blanket guard catches the
regression class where a join condition is accidentally dropped or an
equi-join degrades (e.g. a cast makes the keys incomparable).
"""

from __future__ import annotations

import os

import pytest

from real_time_data_warehouse_spark.plans.audit import formatted_plan
from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from tests.conftest import SF_DIR

query_map()
ALL = sorted(QUERY_REGISTRY)

# Sequential replay queries execute real work (store folds) at call
# time; their final frames are checkpoint reads with trivial plans, and
# their internals are the SAME code paths the batch twins lint here.
# Skipping them keeps the lint cheap without losing coverage — and the
# loophole is closed at the source: each excluded applier runs
# plans.audit.assert_no_cartesian on its per-batch frame at batch 0
# (dedup_gate/embedding_gate/curation/heavy_hitters/packing/scd2), so
# a degraded join inside a replay fails the replay itself.
REPLAYS = {
    "d7s_dedup_gate_replay",
    "d9s_semantic_gate_replay",
    "st8s_scd2_replay",
    "c3s_packing_replay",
    "c1s_curation_replay",
    "a13s_heavy_hitters_replay",
}


LINTED = [n for n in ALL if n not in REPLAYS]


@pytest.fixture(scope="module", params=LINTED)
def linted(request, spark):
    """(name, frame) of one registry row, built ONCE for the three
    lints below. Module scope groups the three tests of a row together,
    so a row whose fn runs real work (a replay fold, a streaming build)
    pays for it once per module instead of once per lint."""
    return request.param, QUERY_REGISTRY[request.param].fn(spark, SF_DIR)


def test_no_cartesian_product(linted):
    name, df = linted
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"


# Partition-less windows whose bound is real but not Limit-shaped:
# z3's offsets window runs over per-DAY compaction totals (bucket = the
# day column — no static bucket count to stamp as a limit); the frame
# is bounded by the table's retention horizon, documented in layout.py.
GLOBAL_WINDOW_BOUNDED_BY_DESIGN = {"z3_compaction_plan"}


def test_global_windows_are_bounded(linted):
    """No partition-less Window may run over an un-limited input: that
    shape serializes the whole dataset through ONE task at 100 TB even
    when the small-SF answer is correct. Global windows over top-K /
    bucket-totals frames are fine — the Limit below them is the
    structural witness (bucketed_prefix stamps one via n_buckets)."""
    from real_time_data_warehouse_spark.plans.audit import (
        unbounded_global_windows,
    )

    name, df = linted
    if name in GLOBAL_WINDOW_BOUNDED_BY_DESIGN:
        pytest.skip("bounded by design; documented at the call site")
    offenders = unbounded_global_windows(df)
    assert not offenders, f"{name}: unbounded global window(s): {offenders}"


def test_output_columns_are_scalar(linted):
    """Driver hash-comparability: every output column must be a scalar
    type. Array/map/struct outputs hash engine-dependently (element
    order, struct field rendering) under the driver's sorted-column
    value comparator — flatten or aggregate before returning. Replays
    excluded for suite economy (each executes its store fold when
    called); their scalar schemas are pinned by the parity suite."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    name, df = linted
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name}: non-scalar output columns {bad}"


def test_unbounded_global_window_detector_edges(spark):
    """The detector's contract on synthetic plans: a global window over
    an unlimited scan is flagged; a Limit on the small side of a join
    does NOT exonerate a window over the unbounded side; a genuinely
    limited input passes; explode over a bounded input stays bounded
    only if Catalyst says so (maxRows), not by Limit-node spotting."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_data_warehouse_spark.plans.audit import (
        unbounded_global_windows,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    dim = docs.select("lang").distinct().limit(5)
    w = Window.orderBy("doc_id")

    flagged = docs.join(F.broadcast(dim), "lang").withColumn(
        "r", F.row_number().over(w)
    )
    assert len(unbounded_global_windows(flagged)) == 1

    passes = docs.limit(10).join(F.broadcast(dim), "lang").withColumn(
        "r", F.row_number().over(w)
    )
    assert unbounded_global_windows(passes) == []

    plain_scan = docs.withColumn("r", F.row_number().over(w))
    assert len(unbounded_global_windows(plain_scan)) == 1

    # partitionBy(lit(1)) is still ONE partition — treated as global
    lit_part = docs.withColumn(
        "r",
        F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("doc_id")),
    )
    assert len(unbounded_global_windows(lit_part)) == 1


def _package_sources():
    """(path relative to the package, source) of every package module
    except ``streaming/state_store.py``, the epoch-layout and query-run
    owner."""
    import real_time_data_warehouse_spark as pkg

    root = os.path.dirname(pkg.__file__)
    owner = os.path.join(root, "streaming", "state_store.py")
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and path != owner:
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root), fh.read()


def _code_tokens(source: str) -> list[str]:
    """Text of every NAME and OP token of *source*: code only, since a
    comment or a string literal (docstrings included) is one token of
    another type."""
    import io
    import tokenize

    return [
        t.string
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type in (tokenize.NAME, tokenize.OP)
    ]


def test_epoch_paths_only_in_state_store():
    """streaming/state_store.py owns the ``batch_id=N`` epoch layout:
    no other package module spells an epoch path by hand or builds one
    through ``epoch_dir`` — every epoch write goes through
    ``write_snapshot`` (static overwrite pinned) and every read through
    ``read_snapshot``/``read_log``."""
    offenders = sorted(
        rel
        for rel, src in _package_sources()
        if 'f"batch_id={' in src or "epoch_dir" in _code_tokens(src)
    )
    assert not offenders, f"hand-built epoch paths in {offenders}"


def test_queries_start_only_in_state_store():
    """streaming/state_store.py owns how a streaming build starts, waits
    and times out (``run_epoch_stream``/``run_file_stream``): no other
    package module reaches ``.writeStream`` or calls
    ``awaitTermination(`` in code (docstrings and comments may name
    them)."""
    offenders = []
    for rel, src in _package_sources():
        toks = _code_tokens(src)
        pairs = set(zip(toks, toks[1:]))
        if pairs & {(".", "writeStream"), ("awaitTermination", "(")}:
            offenders.append(rel)
    assert not offenders, f"queries run by hand in {sorted(offenders)}"
