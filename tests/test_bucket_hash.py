"""Driver-side bucket routing: `_bucket_of` (the pure-Python xxhash64 port
point lookups route with) must equal Spark's `pmod(xxhash64(pk), n)` —
`_bucket_col`, the expression every mirror write buckets rows by — for
every bigint pk. A drift would send a lookup to the wrong bucket and miss
a stored row."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from go_pq_cdc_spark.streaming.changelog_stream import _bucket_col, _bucket_of

LONG_MIN, LONG_MAX = -(1 << 63), (1 << 63) - 1


def test_driver_bucket_routing_matches_spark_xxhash64(spark):
    rng = random.Random(20261017)
    pks = (
        [0, 1, -1, LONG_MIN, LONG_MAX]
        + [rng.randint(LONG_MIN, LONG_MAX) for _ in range(5000)]
        + list(range(1, 3001))
    )
    ns = (1, 32, 64, 1000)
    df = spark.createDataFrame([(p,) for p in pks], "pk bigint").select(
        "pk",
        *[
            c
            for n in ns
            for c in (
                F.pmod(F.xxhash64("pk"), F.lit(n)).cast("int").alias(f"spark{n}"),
                _bucket_col("pk", n).alias(f"mirror{n}"),
            )
        ],
    )
    got = {r["pk"]: r for r in df.collect()}
    for n in ns:
        mismatches = [
            p for p in pks
            if not _bucket_of(p, n) == got[p][f"spark{n}"] == got[p][f"mirror{n}"]
        ]
        assert not mismatches, f"n={n}: {len(mismatches)} pks differ, e.g. {mismatches[:3]}"
