"""Warning-free bounded global windows.

A handful of operators deliberately run a window with GLOBAL ordering
over a provably-bounded frame (top-K lists, bucket-totals): s13's
fusion ranks, t13's Zipf lattice, bucketed_prefix's offsets. The
semantics are right and the frames are tiny, but a partition-less
window spec makes WindowExec log ``No Partition Defined for Window
operation!`` on every execution — noise that buries real signals in a
full-registry sweep log.

``partitionBy(lit(1))`` does NOT silence it: FoldablePropagation folds
the literal out of the spec. So does multiply-by-zero in Spark 4 once
a coalesce proves the other side non-null. This helper stamps a
NON-FOLDABLE, constant-by-construction column — ``y - y`` where
``y = coalesce(try_cast(x), 0)`` (identical non-null subtrees, always
0; ``x - x`` is not an optimizer simplification because it is
null-unsafe in general) — and windows partition by it: every row
hashes to ONE partition, so execution and results are identical to the
partition-less spec, but WindowExec sees a defined partitionSpec and
stays quiet.

The idiom CANNOT hide an unbounded window from the registry-wide plan
lint: plans/audit.unbounded_global_windows treats any partitionSpec
that references a ``__bounded_part`` attribute as global and still
requires Catalyst's maxRows() to prove the input bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reserved name — plans/audit.py keys the lint's global-window
# detection on it. Never reuse for a data column.
BOUNDED_PART = "__bounded_part"


def with_bounded_part(df: DataFrame, anchor: str | None = None) -> DataFrame:
    """Stamp the constant single-partition column (see module doc).

    ``anchor`` names the column the non-foldable expression hangs off;
    defaults to the frame's first column. try_cast keeps ANSI mode
    happy on non-numeric anchors (null → coalesce → 0)."""
    a = F.col(anchor if anchor is not None else df.columns[0])
    y = F.coalesce(a.try_cast("long"), F.lit(0))
    return df.withColumn(BOUNDED_PART, (y - y).cast("int"))


def bounded_part_col() -> Column:
    return F.col(BOUNDED_PART)
