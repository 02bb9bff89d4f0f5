#!/usr/bin/env python
"""Print one sha256 per registry row, then a total, in MANIFEST order.

Each row's digest covers its name, survey id(s), doc, tags and oracle
SQL, so two checkouts that print the same total register the same
registry text (the Spark callables are not hashed). No
SparkSession is started: the operator modules register on import.

    python tools/registry_digest.py   # one line per row + total
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_data_warehouse_spark.registry import ordered_registry  # noqa: E402


def row_digest(q) -> str:
    """sha256 over one row's contract fields, serialised as JSON."""
    fields = [q.name, q.survey, q.doc, list(q.tags), q.oracle]
    return hashlib.sha256(json.dumps(fields).encode("utf-8")).hexdigest()


def main() -> int:
    total = hashlib.sha256()
    for name, q in ordered_registry().items():
        digest = row_digest(q)
        total.update(digest.encode("ascii"))
        print(f"{digest}  {name}")
    print(f"{total.hexdigest()}  TOTAL")
    return 0


if __name__ == "__main__":
    sys.exit(main())
