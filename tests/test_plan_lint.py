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


def _package_sources(with_owner: bool = False):
    """(path relative to the package, source) of every package module,
    except ``streaming/state_store.py`` (the epoch-layout and query-run
    owner) unless *with_owner*."""
    import real_time_data_warehouse_spark as pkg

    root = os.path.dirname(pkg.__file__)
    owner = os.path.join(root, "streaming", "state_store.py")
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if f.endswith(".py") and (with_owner or path != owner):
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root), fh.read()


def _code_tokens(source: str, strings: bool = False) -> list[str]:
    """Text of every NAME and OP token of *source*: code only, since a
    comment or a string literal (docstrings included) is one token of
    another type. With *strings*, also every string literal that is an
    operand, quotes included; a string that is a statement of its own
    (a docstring) is left out."""
    import io
    import tokenize

    layout = (tokenize.NL, tokenize.COMMENT)
    starts = (tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT)
    out, prev = [], tokenize.NEWLINE
    for t in tokenize.generate_tokens(io.StringIO(source).readline):
        if t.type in (tokenize.NAME, tokenize.OP) or (
            strings and t.type == tokenize.STRING and prev not in starts
        ):
            out.append(t.string)
        if t.type not in layout:
            prev = t.type
    return out


def _blank_defs(src: str, keep) -> str:
    """*src* with every top-level statement ``keep(node)`` accepts
    blanked out, decorators included, so a lint can scan the rest."""
    import ast

    lines = src.split("\n")
    for node in ast.parse(src).body:
        if keep(node):
            first = min(
                [node.lineno]
                + [d.lineno for d in getattr(node, "decorator_list", [])]
            )
            lines[first - 1:node.end_lineno] = [""] * (
                node.end_lineno - first + 1
            )
    return "\n".join(lines)


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


def _operator_sources():
    """(path relative to the package, source) of every operators/
    module."""
    return [
        (rel, src)
        for rel, src in _package_sources()
        if rel.startswith("operators" + os.sep)
    ]


def test_debris_epoch_is_never_a_literal():
    """A crash row's debris follows the epoch the crash driver kills: no
    ``write_snapshot(...)`` call under operators/ passes an integer
    literal as its epoch. A literal stays put when the crash epoch
    moves, and the debris then lands in an epoch whose first run
    overwrites it — the row silently stops checking that replay heals
    partial output."""
    import ast

    offenders = []
    for rel, src in _operator_sources():
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else getattr(
                fn, "attr", None
            )
            if name != "write_snapshot":
                continue
            epoch = node.args[2] if len(node.args) > 2 else next(
                (k.value for k in node.keywords if k.arg == "batch_id"), None
            )
            if isinstance(epoch, ast.Constant) and type(epoch.value) is int:
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"literal write_snapshot epochs at {offenders}"


def test_operators_run_streams_only_through_the_harness():
    """``operators/streaming_exec._stream_artifact`` (the build harness)
    and ``_run_crash_restart`` (its crash driver) are the only operators/
    code that starts a streaming query: elsewhere under operators/, code
    names neither ``run_file_stream`` nor ``run_epoch_stream`` (imports
    aside; docstrings and comments may name them)."""
    import ast

    names = {"run_file_stream", "run_epoch_stream"}
    owners = {"_stream_artifact", "_run_crash_restart"} | names
    harness = os.path.join("operators", "streaming_exec.py")
    offenders = []
    for rel, src in _operator_sources():
        code = _blank_defs(
            src,
            lambda node: isinstance(node, (ast.Import, ast.ImportFrom))
            or (
                rel == harness
                and isinstance(node, ast.FunctionDef)
                and node.name in owners
            ),
        )
        used = names & set(_code_tokens(code))
        if used:
            offenders.append(f"{rel}: {sorted(used)}")
    assert not offenders, f"streams run outside the harness: {offenders}"


# where the package may set spark.sql.shuffle.partitions: the batch
# default of a session it builds, and the state-partition rule every
# streaming start goes through
_SHUFFLE_PARTS_OWNERS = {
    "session.py": "get_spark",
    os.path.join("streaming", "state_store.py"): "_run",
}


def test_shuffle_partitions_set_only_by_the_session_and_the_rule():
    """No package code names ``spark.sql.shuffle.partitions`` outside
    ``session.get_spark`` (the batch default) and ``state_store._run``
    (one state partition per core at a query's first start): a row or
    helper that scopes its own count would start its queries at a
    hand-picked state-partition count the checkpoint then freezes.
    Docstrings and comments may name the key."""
    import ast

    offenders = []
    for rel, src in _package_sources(with_owner=True):
        owner = _SHUFFLE_PARTS_OWNERS.get(rel)
        code = _blank_defs(
            src,
            lambda node: isinstance(node, ast.FunctionDef)
            and node.name == owner,
        )
        toks = _code_tokens(code, strings=True)
        if any("spark.sql.shuffle.partitions" in t for t in toks):
            offenders.append(rel)
    assert not offenders, (
        f"spark.sql.shuffle.partitions set in {sorted(offenders)}"
    )


def test_code_strings_leave_docstrings_out():
    """The string-literal half of ``_code_tokens`` sees operands, not
    docstrings or comments."""
    src = (
        '"""module doc: "k"."""\n'
        "def f(c):\n"
        '    """doc naming "k"."""\n'
        '    # comment naming "k"\n'
        '    c.set("k", 1)\n'
        '    return ("k",\n'
        '            "k")\n'
    )
    toks = _code_tokens(src, strings=True)
    assert [t for t in toks if t.startswith('"')] == ['"k"'] * 3


_REGISTRY_MUTATORS = {
    "update", "setdefault", "pop", "popitem", "clear", "__setitem__",
    "__delitem__",
}


def _registry_writes(src: str) -> list[int]:
    """Line numbers where *src* writes into ``QUERY_REGISTRY``: an item
    assignment or deletion, or a mutating method call, on the registry
    under any name a ``from ... import QUERY_REGISTRY as X`` or a plain
    ``X = QUERY_REGISTRY`` binds to it (``module.QUERY_REGISTRY`` too)."""
    import ast

    tree = ast.parse(src)
    aliases = {"QUERY_REGISTRY"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            aliases |= {
                a.asname or a.name
                for a in node.names
                if a.name == "QUERY_REGISTRY"
            }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            aliases |= {t.id for t in node.targets if isinstance(t, ast.Name)}

    def is_registry(expr) -> bool:
        return (isinstance(expr, ast.Name) and expr.id in aliases) or (
            isinstance(expr, ast.Attribute) and expr.attr == "QUERY_REGISTRY"
        )

    lines = []
    for node in ast.walk(tree):
        targets = []
        if isinstance(node, (ast.Assign, ast.Delete)):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        if any(
            isinstance(t, ast.Subscript) and is_registry(t.value)
            for t in targets
        ):
            lines.append(node.lineno)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _REGISTRY_MUTATORS
            and is_registry(node.func.value)
        ):
            lines.append(node.lineno)
    return lines


def test_only_register_writes_the_registry():
    """Every row carries its final oracle in its own ``@register(...)``:
    outside ``registry.py`` no package module writes into
    ``QUERY_REGISTRY`` under any alias (a donor row's oracle is READ,
    through an import of the donor's module), and no operators/ module
    imports ``dataclasses`` (whose ``replace`` patched rows after the
    fact). A row patched after registration depends on import order,
    and a lost patch drops the row silently to a rows-only check."""
    import ast

    offenders = []
    for rel, src in _package_sources():
        if rel == "registry.py":
            continue
        writes = _registry_writes(src)
        if writes:
            offenders.append(f"{rel}: writes at lines {writes}")
        if rel.startswith("operators" + os.sep) and any(
            (isinstance(n, ast.Import)
             and any(a.name == "dataclasses" for a in n.names))
            or (isinstance(n, ast.ImportFrom) and n.module == "dataclasses")
            for n in ast.walk(ast.parse(src))
        ):
            offenders.append(f"{rel}: imports dataclasses")
    assert not offenders, f"registry written outside register(): {offenders}"


def _registry_fn_calls(toks: list[str]) -> int:
    """How many ``QUERY_REGISTRY[...].fn(`` calls the code tokens
    *toks* hold, whatever the subscript."""
    n = 0
    for i, tok in enumerate(toks):
        if tok != "QUERY_REGISTRY" or toks[i + 1:i + 2] != ["["]:
            continue
        depth = 0
        for j in range(i + 1, len(toks)):
            depth += {"[": 1, "]": -1}.get(toks[j], 0)
            if depth == 0:
                break
        n += toks[j + 1:j + 4] == [".", "fn", "("]
    return n


def test_operators_call_donor_rows_directly():
    """A row that composes another row calls the donor's function
    through the donor's module (``register`` returns the function
    unchanged), never ``QUERY_REGISTRY["<row>"].fn(...)``: a misspelled
    or renamed donor then fails at import instead of when the composing
    row runs, and the call stays visible to grep and editors."""
    offenders = {
        rel: n
        for rel, src in _operator_sources()
        if (n := _registry_fn_calls(_code_tokens(src)))
    }
    assert not offenders, f"donor rows called by name: {offenders}"
