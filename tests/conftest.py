from __future__ import annotations

import pytest

from osmi_water_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="osmi-water-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def digest():
    """Order-insensitive fingerprint of each column of ``df``:
    {name: (type, sum of xxhash64 as an exact decimal, distinct count,
    null count)} in one aggregate. Used to pin expression outputs."""
    from pyspark.sql import functions as F

    def _digest(df):
        cols = df.columns
        aggs = []
        for c in cols:
            aggs += [
                F.expr(f"cast(sum(cast(xxhash64(`{c}`) as decimal(38,0))) as string)"),
                F.countDistinct(c),
                F.expr(f"count_if(`{c}` IS NULL)"),
            ]
        r = df.agg(*aggs).first()
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        return {c: (types[c], int(r[3 * i]), r[3 * i + 1], r[3 * i + 2])
                for i, c in enumerate(cols)}

    return _digest
