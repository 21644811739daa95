"""M5: skew — correctness and partition-balance under Zipf-hot repos."""

from __future__ import annotations

import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.operators.lww import (
    lww_dedupe,
    lww_dedupe_salted,
)


def test_skewed_input_all_variants_agree(spark):
    # skew=6 → top repo takes a huge share of events
    ev = change_events(spark, 20_000, seed=31, n_repos=50, skew=6.0)
    top = ev.groupBy("repo").count().orderBy(F.desc("count")).first()
    assert top["count"] > 20_000 * 0.3  # genuinely hot

    a = lww_dedupe(ev)
    c = lww_dedupe_salted(ev, salt_buckets=8)
    pa = a.orderBy("repo", "path").toPandas()
    pc = c.orderBy("repo", "path").toPandas()[pa.columns]
    import pandas as pd

    pd.testing.assert_frame_equal(pa, pc)


def test_salted_phase1_bounds_partition_size(spark):
    """The salted first phase spreads a single pathological key: no reducer
    sees more than ~1/salt_buckets of that key's rows (+ slack)."""
    n = 8_000
    one_key = (
        spark.range(n)
        .select(
            F.col("id").alias("event_seq"),
            F.lit("org0/hot").alias("repo"),
            F.lit("src/one.py").alias("path"),
            F.lit("x").alias("content"),
        )
    )
    salted = one_key.withColumn("_salt", F.abs(F.xxhash64(F.col("event_seq"))) % 16)
    counts = salted.groupBy("repo", "path", "_salt").count().toPandas()
    assert len(counts) == 16
    assert counts["count"].max() < (n / 16) * 1.5
