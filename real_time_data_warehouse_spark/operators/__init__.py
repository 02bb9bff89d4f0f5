"""Operator modules. Importing a module registers its queries."""

from __future__ import annotations

import importlib

# Import order only — the driver's visit order is the EXPLICIT
# registry.MANIFEST (registry.ordered_registry), not import side-effect
# order. The tuple carries no load-time constraint: a module whose rows
# compose another module's oracle or code imports that module itself at
# top level (curation imports dedup/textanalysis, streaming_exec imports
# dedup/similarity/stateful, ...), so any order loads the same registry.
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
    "curation",
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
    "sink_readback",
    "streaming_exec",
    "dim_refresh",
    "app_chains",
    "layout",
    "audits",
)

_loaded = False


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(f"real_time_data_warehouse_spark.operators.{mod}")
    _loaded = True
