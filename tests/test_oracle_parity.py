"""Per-query parity against the DuckDB oracle at sf0.001 — the local mirror
of the driver's t2 gate (which runs at sf0.01)."""

from __future__ import annotations

import pytest

from real_time_data_warehouse_spark.registry import QUERY_REGISTRY, query_map
from tests.conftest import SF_DIR
from tests.parity import compare

query_map()  # force registration
ALL = sorted(QUERY_REGISTRY)


@pytest.fixture(scope="module", params=ALL)
def built(request, spark):
    """(query, frame) of one registry row, built ONCE for both checks
    below. Module scope groups a row's two tests together, so a row
    whose fn runs real work (a replay fold, a streaming build) pays for
    it once per module instead of once per check."""
    q = QUERY_REGISTRY[request.param]
    return q, q.fn(spark, SF_DIR)


def test_no_decimal_in_output_schema(built):
    """Repo-wide decimal discipline: computed decimals are cast to DOUBLE at
    exact scale (functions/money.py) before surfacing. A DecimalType output
    hashes differently across engines (Decimal('31.40') vs 31.4) under the
    driver's exact comparator even when values are equal."""
    from pyspark.sql.types import DecimalType

    q, df = built
    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not bad, f"{q.name}: DecimalType output columns {bad} — cast to DOUBLE"


def test_query_parity(duck, built):
    q, df = built
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors the driver
        return
    ok, msg = compare(df, duck, q.oracle)
    assert ok, f"{q.name}: {msg}"
