"""Operator modules. Importing a module registers its queries."""

from __future__ import annotations

import importlib

# Import order only — the driver's visit order is the EXPLICIT
# registry.MANIFEST (registry.ordered_registry), not import side-effect
# order. Constraints here are purely load-time: curation composes
# d7/t1/t2/t3, so it loads after them; gate_replay imports the batch
# twins whose oracles it reuses itself.
_MODULES = (
    "dedup",
    "similarity",
    "gate_replay",
    "textanalysis",
    "bpe",
    "classifier",
    "importance",
    "multimodal",
    "sql_apps",
    "curation",  # composes d7/t1/t2/t3 — must load after them
    "retrieval",
    "projections",
    "joins",
    "aggregations",
    "stateful",
    "entity",
    "fanout",
    "graph",
    "scalar",
    "serving",
    "sink_readback",  # composes serving.SERVING_DATE — after serving
    "streaming_exec",  # reuses sink_readback's artifact cache
    "dim_refresh",  # composes streaming_exec's sliced source — after it
    "app_chains",  # composes streaming_exec's sliced source — after it
    "layout",
    "audits",  # composes s1/s3/d2/d3 — must load last
)

_loaded = False


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(f"real_time_data_warehouse_spark.operators.{mod}")
    _loaded = True
