"""Co-located joins via Spark bucketed tables — the 10^10-scale dedup story.

Bucketing the frontier and seen tables by digest (Spark bucketBy, or
Iceberg bucket(digest, P)) would let the exact-dedup anti-join skip the
shuffle: matching buckets are read co-located. rcspark.tables writes
plain parquet, so today that anti-join shuffles (hive-style shard= dirs
would not help — they are not Spark buckets). This test materializes the
claim in-session: two tables written with bucketBy(8, digest) join with
zero Exchange operators in the physical plan, while the same join on
plain parquet shuffles both sides.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    a = spark.range(10_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("digest"),
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url_canon"),
    )
    b = spark.range(0, 10_000, 3).select(
        F.xxhash64(F.col("id").cast("string")).alias("digest"),
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url_canon"),
    )
    for name, df in (("t_frontier", a), ("t_seen", b)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, "digest")
            .sortBy("digest")
            .format("parquet")
            .saveAsTable(name)
        )
    yield
    spark.sql("DROP TABLE IF EXISTS t_frontier")
    spark.sql("DROP TABLE IF EXISTS t_seen")


def test_bucketed_antijoin_has_no_shuffle(spark, bucketed_tables):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fr, seen = spark.table("t_frontier"), spark.table("t_seen")
        fresh = fr.join(seen, "digest", "left_anti")
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert fresh.count() == 10_000 - len(range(0, 10_000, 3))

        # control: the same join over non-bucketed data DOES shuffle
        plain_a = spark.range(10_000).select(
            F.xxhash64(F.col("id").cast("string")).alias("digest")
        )
        plain_b = spark.range(0, 10_000, 3).select(
            F.xxhash64(F.col("id").cast("string")).alias("digest")
        )
        plan2 = (
            plain_a.join(plain_b, "digest", "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
